package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Hashing
import graft.operators.{Dedup, Relational, Similarity, TextAnalysis}
import graft.queries.CoreQueries.Q

/** The data-SELECTION family — given a cleaned, deduped corpus, which
  * documents go into the training mix and how is the mix balanced:
  *
  *  - q119 BM25 retrieval scoring against a seed query (lexical
  *    relevance selection, integer-exact — the retrieval twin of
  *    q111's DSIR importance rule);
  *  - q120 deterministic Lloyd k-means over embeddings (the
  *    clustering stage behind cluster-balanced sampling / SemDeDup
  *    curation, rational centroids so it is bit-reproducible);
  *  - q121 temperature-scaled mixture sampling over languages (the
  *    multilingual α = 1/2 rebalance of Gopher/PaLM-style data
  *    recipes, as a deterministic per-document hash coin);
  *  - q122 cluster-balanced sampling (q120's learned clusters ×
  *    q86's md5-ordered exact-N quota draw);
  *  - q123 degenerate-text screen (longest consecutive-token run —
  *    the looping-generation filter);
  *  - q124 quality-tiered epoch upsampling (deterministic "repeat
  *    the best data k×" replication);
  *  - q125 winsorized per-language quality mean (discrete-P05/P95
  *    clip + decimal-exact robust mean — q114 MAD's sibling);
  *  - q126 eval-anchored centroid relevance selection (decimal-exact
  *    embedding dot with the target centroid direction);
  *  - q127 exact phrase search (conjunctive prefilter + positional
  *    alignment count — the targeted-decontamination probe);
  *  - q128 Johnson–Lindenstrauss ±1 projection (decimal-exact
  *    compress-before-cluster dimensionality reduction);
  *  - q129 hard-negative mining (per-anchor top-k inside the
  *    near-but-not-duplicate cosine band);
  *  - q130 HyperLogLog vocabulary cardinality (constant-state
  *    register sketch beside its exact twin);
  *  - q131 incremental materialized-view maintenance (mergeable
  *    agg states; the gate is the merge ≡ recompute identity);
  *  - q132 grouped top-k via the custom-physical-operator stack
  *    (hint → logical node → strategy → bounded-heap exec);
  *  - q133 declarative data-quality expectation suite (one-pass
  *    integer-fraction constraint verdicts, Deequ-shape);
  *  - q134 corpus snapshot diff (added/removed/changed/same between
  *    dataset versions by content hash);
  *  - q135 split-balance contingency audit (per-cell chi-square
  *    ingredients as exact integer fractions).
  */
object SelectionQueries {

  /** q119 — BM25 relevance of every document to the seed query
    * {spark, join, filter, hash} ([[TextAnalysis.bm25Scores]]):
    * rational-idf Okapi BM25 (k1 = 6/5, b = 3/4) reduced to one
    * integer fraction per term and floored at 10⁻⁶ fixed point, so
    * the ranking is bit-identical to the oracle with NO float in
    * sight. One map-side corpus pass (per-row array folds, no
    * explode), one broadcast 1-row totals/df aggregate, one scoring
    * projection — nothing shuffles at corpus grain.
    */
  val q119Bm25: Q = (s, d) => {
    // Raw scan, not Tables.documents: the per-row work is four cheap
    // array folds, so the spreadFewSplits shuffle would cost more than
    // the single-split serialization it prevents (the round-8 rule for
    // cheap per-row corpus queries).
    TextAnalysis
      .bm25Scores(Tables.table(s, d, "documents"), "text", "doc_id", Seq("spark", "join", "filter", "hash"))
      .orderBy(col("doc_id"))
  }

  /** q119's oracle-side BM25 builder, shared with q137's lexical leg
    * (SketchQueries) so the two oracles cannot drift: the same integer
    * fraction per term —
    * `(2N−2df+1)·44·S·tf // ((2df+1)·(20·S·tf + 6·S + 18·dl·N))`
    * at 10⁶ fixed point, HUGEINT to absorb the ~10¹⁸ numerator.
    * Returns a pre-stripped CTE chain ending in `bm(doc_id, bm25)`.
    */
  private[queries] def bm25Ctes(terms: Seq[String]): String = {
    val tfCols = terms.indices
      .map(i => s"len(list_filter(toks, x -> x = '${terms(i)}')) AS tf$i")
      .mkString(",\n      |         ")
    val dfCols = terms.indices
      .map(i => s"COUNT(*) FILTER (WHERE tf$i > 0) AS df$i")
      .mkString(",\n      |         ")
    val scoreTerms = terms.indices
      .map(i =>
        s"((CAST(1000000 AS HUGEINT) * (((2 * n) - (2 * df$i)) + 1) * 44 * s * tf$i) // (((2 * df$i) + 1) * (((20 * s) * tf$i) + (6 * s) + ((18 * dl) * n))))")
      .mkString("\n      |  + ")
    s"""base AS (
      |  SELECT doc_id, len(toks) AS dl,
      |         $tfCols
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
      |tot AS (
      |  SELECT COUNT(*) AS n, SUM(dl) AS s,
      |         $dfCols
      |  FROM base),
      |bm AS (SELECT doc_id, CAST(
      |  $scoreTerms
      |  AS BIGINT) AS bm25 FROM base, tot)""".stripMargin
  }

  /** Oracle: [[bm25Ctes]] over the q119 seed terms, ordered by id. */
  val q119Sql: String =
    s"""WITH ${bm25Ctes(Seq("spark", "join", "filter", "hash"))}
      |SELECT doc_id, bm25 FROM bm
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q120 — deterministic 2-round Lloyd k-means over the embedding
    * corpus ([[Similarity.kmeansAssign]]): seeds are every 50th
    * vector (no RNG), centroids stay rational (n, Σx) in exact
    * decimal, distances are the engine-parity double→decimal recipe,
    * argmin is a combining `min(struct)` — so the final assignment is
    * bit-identical in the oracle and under any partitioning. The
    * clustering stage of cluster-balanced sampling.
    */
  val q120Kmeans: Q = (s, d) => {
    Similarity
      .kmeansAssign(
        Tables.embeddings(s, d),
        "vec_id",
        "embedding",
        col("vec_id") % 50 === 0,
        rounds = 2)
      .orderBy(col("vec_id"))
  }

  /** The two Lloyd rounds as a pre-stripped CTE chain ending in
    * `a2(vec_id, cid)` — ONE definition for q120's oracle and q122's
    * (which layers its quota draw on top) so the two cannot gate
    * against diverging clusterings: round-0 centroids are the seed
    * rows as clusters of one ((n, s) = (1, dec(x))), the shared
    * distance formula is Σ dec((n·x − s_double)²) / n², argmin via
    * ROW_NUMBER ordered by (dist, cid).
    */
  private[queries] val kmeansCtes: String =
    """x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |             generate_subscripts(embedding, 1) AS pos
      |      FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, CAST(1 AS BIGINT) AS n, pos,
      |              CAST(v AS DECIMAL(28,10)) AS s
      |       FROM x WHERE (vec_id % 50) = 0),
      |d1 AS (SELECT x.vec_id, c.cid,
      |        CAST(SUM(CAST(((c.n * x.v) - CAST(c.s AS DOUBLE)) * ((c.n * x.v) - CAST(c.s AS DOUBLE)) AS DECIMAL(28,10))) AS DOUBLE) / (c.n * c.n) AS dist
      |       FROM x JOIN c0 c ON c.pos = x.pos GROUP BY x.vec_id, c.cid, c.n),
      |a1 AS (SELECT vec_id, cid FROM
      |        (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d1)
      |       WHERE rn = 1),
      |n1 AS (SELECT cid, COUNT(*) AS n FROM a1 GROUP BY 1),
      |s1 AS (SELECT a1.cid, x.pos, SUM(CAST(x.v AS DECIMAL(28,10))) AS s
      |       FROM a1 JOIN x ON x.vec_id = a1.vec_id GROUP BY 1, 2),
      |d2 AS (SELECT x.vec_id, s1.cid,
      |        CAST(SUM(CAST(((n1.n * x.v) - CAST(s1.s AS DOUBLE)) * ((n1.n * x.v) - CAST(s1.s AS DOUBLE)) AS DECIMAL(28,10))) AS DOUBLE) / (n1.n * n1.n) AS dist
      |       FROM x JOIN s1 ON s1.pos = x.pos JOIN n1 ON n1.cid = s1.cid GROUP BY x.vec_id, s1.cid, n1.n),
      |a2 AS (SELECT vec_id, cid FROM
      |        (SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d2)
      |       WHERE rn = 1)""".stripMargin

  /** Oracle: [[kmeansCtes]], one row per vector. */
  val q120Sql: String =
    s"""WITH $kmeansCtes
      |SELECT vec_id, cid AS cluster FROM a2 ORDER BY vec_id NULLS FIRST""".stripMargin

  /** q121 — temperature-scaled mixture sampling over languages: at
    * temperature α = 1/2 the per-language keep rate is
    * τ_l = √(c_min/c_l) (heavier languages downsample toward the
    * lightest — the multilingual rebalance move), applied as the
    * deterministic coin `h60("tmix:"+doc_id) < τ_l·2⁶⁰`. τ is
    * irrational, so the coin compares DOUBLES — but both engines
    * compute the identical IEEE sqrt/divide/multiply from identical
    * integers, so the verdict is still bit-stable (and rerun/shard-
    * stable: the coin depends only on the document id). Generalizes
    * q101's fixed target mix to the α-parameterized family.
    */
  val q121TemperatureMix: Q = (s, d) => {
    val docs = Tables.table(s, d, "documents") // cheap per-row coin — raw scan
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("cl"))
    val cmin = counts.agg(min(col("cl")).as("cmin"))
    docs
      .join(broadcast(counts), Seq("lang"))
      .crossJoin(broadcast(cmin))
      .select(
        col("doc_id"),
        col("lang"),
        (Hashing.h60(concat(lit("tmix:"), col("doc_id").cast("string"))).cast("double") <
          sqrt(col("cmin").cast("double") / col("cl").cast("double")) * lit(1152921504606846976L))
          .as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the same counts, the same √(c_min/c_l)·2⁶⁰ threshold,
    * the same md5-derived 60-bit coin.
    */
  val q121Sql: String =
    """WITH c AS (SELECT lang, COUNT(*) AS cl FROM documents GROUP BY 1),
      |m AS (SELECT MIN(cl) AS cmin FROM c)
      |SELECT d.doc_id, d.lang,
      |  (CAST(CAST('0x' || substr(md5('tmix:' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
      |    < (sqrt(CAST(m.cmin AS DOUBLE) / CAST(c.cl AS DOUBLE)) * 1152921504606846976)) AS kept
      |FROM documents d JOIN c ON c.lang = d.lang, m
      |ORDER BY d.doc_id NULLS FIRST""".stripMargin

  /** q122 — cluster-balanced sampling: the q120 k-means assignment
    * composed with a per-cluster exact-N quota draw (at most 20 rows
    * per cluster, picked in md5-hash order — the q86 stratified-draw
    * pattern over LEARNED strata instead of a given column). The
    * "balance the training mix across embedding-space clusters" move
    * (cluster-balanced selection): head clusters downsample to the
    * quota, tail clusters survive whole. Rerun/shard-stable: the draw
    * order depends only on vec_id.
    */
  val q122ClusterBalance: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val assign = Similarity.kmeansAssign(
      Tables.embeddings(s, d), "vec_id", "embedding", col("vec_id") % 50 === 0, rounds = 2)
    val w = Window
      .partitionBy(col("cluster"))
      .orderBy(Hashing.h60(concat(lit("cbal:"), col("vec_id").cast("string"))), col("vec_id"))
    assign
      .withColumn("pick", row_number().over(w).cast("long"))
      .filter(col("pick") <= 20)
      .orderBy(col("cluster"), col("pick"))
  }

  /** Oracle: [[kmeansCtes]] (q120's two rounds, shared so the
    * clusterings cannot drift), then the same md5-ordered ROW_NUMBER
    * quota per cluster.
    */
  val q122Sql: String =
    s"""WITH $kmeansCtes,
      |p AS (SELECT vec_id, cid AS cluster,
      |       CAST(ROW_NUMBER() OVER (PARTITION BY cid
      |         ORDER BY CAST('0x' || substr(md5('cbal:' || CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT), vec_id) AS BIGINT) AS pick
      |      FROM a2)
      |SELECT vec_id, cluster, pick FROM p WHERE pick <= 20
      |ORDER BY cluster NULLS FIRST, pick NULLS FIRST""".stripMargin

  /** q123 — degenerate-text (looping-generation) screen
    * ([[TextAnalysis.maxTokenRun]]): longest run of consecutive
    * identical tokens per document, verdict at run ≥ 3. One HOF fold
    * per row in the operator; the oracle takes the classic
    * gaps-and-islands route (per-token ROW_NUMBER difference) —
    * different plan, identical integers. At sf0.01 the corpus has 25
    * loopy docs (max_run 3–4), so the gate is non-vacuous.
    */
  val q123LoopScreen: Q = (s, d) => {
    // Raw scan: one cheap O(len) fold per row (round-8 rule).
    // Readable rows only: the oracle's unnest drops NULL-text docs
    // while the engine's per-row fold would keep them — align both.
    Tables.table(s, d, "documents")
      .filter(col("text").isNotNull)
      .select(
        col("doc_id"),
        TextAnalysis.maxTokenRun(col("text")).as("max_run"))
      .withColumn("loopy", col("max_run") >= 3)
      .orderBy(col("doc_id"))
  }

  /** Oracle: gaps-and-islands — island id = position minus per-token
    * rank, island sizes, per-doc max.
    */
  val q123Sql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |                  generate_subscripts(string_split(text, ' '), 1) AS ord
      |           FROM documents WHERE text IS NOT NULL),
      |i AS (SELECT doc_id, tok, ord - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY ord) AS g FROM t),
      |r AS (SELECT doc_id, COUNT(*) AS run FROM i GROUP BY doc_id, tok, g)
      |SELECT doc_id, MAX(run) AS max_run, (MAX(run) >= 3) AS loopy
      |FROM r GROUP BY doc_id
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** Shared q27 quality-score fragment (identical arithmetic to the
    * q27/q92 gates, so the double is parity-stable): computed here at
    * document grain for the upsampling and winsorization consumers.
    */
  private def scoredDocs(s: org.apache.spark.sql.SparkSession, d: String) = {
    import TextAnalysis._
    Tables
      .table(s, d, "documents")
      // quality statistics are over READABLE rows: a NULL text has no
      // score, and downstream q125 quantiles would hit the operator's
      // null-rank guard (null order differs across engines)
      .filter(col("text").isNotNull)
      .select(
        col("doc_id"),
        col("lang"),
        length(col("text")).cast("long").as("__nc"),
        wsTokenCount(col("text")).as("__nt"),
        alphaCount(col("text")).as("__na"),
        markerHits(col("text"), markers("en")).as("__ns"))
      .select(
        col("doc_id"),
        col("lang"),
        qualityScore(
          // empty doc -> alpha ratio 0.0, not an ANSI /0 throw (q27's
          // shared semantic; DuckDB twin COALESCEs the NULL division)
          coalesce(
            expr("try_divide(CAST(__na AS DOUBLE), CAST(__nc AS DOUBLE))"),
            lit(0.0)),
          col("__nt"),
          col("__ns").cast("double") / col("__nt").cast("double")).as("score"))
  }

  private def scoredSql: String = {
    val stop = TextAnalysis.markers("en").map(v => s"'$v'").mkString("(", ", ", ")")
    s"""SELECT doc_id, lang,
       |  0.4*COALESCE(CAST(len(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)/CAST(len(text) AS DOUBLE), 0.0)
       |  + 0.3*least(1.0, CAST(len(string_split(text,' ')) AS DOUBLE)/100.0)
       |  + 0.3*(1.0 - CAST(len(list_filter(string_split(text,' '), t -> t IN $stop)) AS DOUBLE)
       |               / CAST(len(string_split(text,' ')) AS DOUBLE)) AS score
       |FROM documents WHERE text IS NOT NULL""".stripMargin
  }

  /** q124 — quality-tiered epoch upsampling: the "repeat the best data
    * up to k× per epoch" move of LLaMA-style data recipes, as a
    * deterministic row replication — score ≥ 0.8 → 3 copies, ≥ 0.7 →
    * 2, else 1, each copy tagged with its ordinal (the downstream
    * shuffle key disambiguator). No RNG: the multiplicity is a pure
    * function of the document, so re-runs and shards agree. The
    * explode is `posexplode(sequence(...))` — row replication inside
    * the scan stage, no join, no shuffle.
    */
  val q124EpochUpsample: Q = (s, d) => {
    scoredDocs(s, d)
      .withColumn(
        "copies",
        when(col("score") >= 0.8, 3L).when(col("score") >= 0.7, 2L).otherwise(1L))
      .select(
        col("doc_id"),
        col("copies"),
        explode(sequence(lit(1L), col("copies"))).as("copy_idx"))
      .orderBy(col("doc_id"), col("copy_idx"))
  }

  /** Oracle: the same tier CASE and a `generate_series` unnest. */
  val q124Sql: String =
    s"""WITH sc AS ($scoredSql),
       |t AS (SELECT doc_id,
       |        CAST(CASE WHEN score >= 0.8 THEN 3 WHEN score >= 0.7 THEN 2 ELSE 1 END AS BIGINT) AS copies
       |      FROM sc)
       |SELECT doc_id, copies, CAST(unnest(generate_series(1, copies)) AS BIGINT) AS copy_idx
       |FROM t
       |ORDER BY doc_id NULLS FIRST, copy_idx NULLS FIRST""".stripMargin

  /** q125 — winsorized per-language quality mean: clip every score to
    * its language's discrete [P05, P95] (the
    * [[graft.operators.Relational.groupedDiscreteQuantiles]] no-Window
    * plan — interpolation-free, so both engines pick actual data
    * values) and report the robust mean. The mean accumulates in
    * DECIMAL(28,10) (order-independent) and divides once as a double —
    * a plain double SUM would be addition-order-sensitive and
    * un-gateable. The q114 MAD's sibling: winsorization is how the
    * quality prior actually gets regularized before mixing.
    */
  val q125Winsorize: Q = (s, d) => {
    val sc = scoredDocs(s, d).select(col("lang"), col("score"))
    val qs = graft.operators.Relational
      .groupedDiscreteQuantiles(sc, "lang", "score", Seq(0.05, 0.95), numPartitions = 32)
      .withColumnRenamed("q0", "p05")
      .withColumnRenamed("q1", "p95")
    sc.join(broadcast(qs), Seq("lang"))
      .select(
        col("lang"),
        col("p05"),
        col("p95"),
        greatest(col("p05"), least(col("p95"), col("score"))).as("__clip"))
      .groupBy(col("lang"), col("p05"), col("p95"))
      .agg(
        (sum(col("__clip").cast("decimal(28,10)")).cast("double") / count(lit(1))).as("wins_mean"))
      .orderBy(col("lang"))
  }

  /** Oracle: the q36-style window-rank discrete quantiles at ⌈n·p⌉,
    * the same clip, the same decimal-accumulated mean.
    */
  val q125Sql: String =
    s"""WITH sc AS ($scoredSql),
       |r AS (SELECT lang, score,
       |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score) AS rn,
       |        COUNT(*) OVER (PARTITION BY lang) AS n
       |      FROM sc),
       |qq AS (SELECT lang,
       |        MAX(CASE WHEN rn = CAST(CEIL(n * 0.05) AS BIGINT) THEN score END) AS p05,
       |        MAX(CASE WHEN rn = CAST(CEIL(n * 0.95) AS BIGINT) THEN score END) AS p95
       |       FROM r GROUP BY lang)
       |SELECT sc.lang, qq.p05, qq.p95,
       |  CAST(SUM(CAST(greatest(qq.p05, least(qq.p95, sc.score)) AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS wins_mean
       |FROM sc JOIN qq ON sc.lang = qq.lang
       |GROUP BY sc.lang, qq.p05, qq.p95
       |ORDER BY sc.lang NULLS FIRST""".stripMargin

  /** q126 — eval-anchored centroid relevance selection: score every
    * non-eval vector by its exact dot product with the SUM of the eval
    * subset's embeddings (the centroid direction; ranking by `x·s` is
    * ranking by centroid cosine-numerator with the /n dropped — a
    * monotone, division-free surrogate, so the order is decimal-exact
    * end to end). The "pick pretraining data closest to the target
    * distribution's embedding centroid" move (the embedding-space
    * sibling of q111's DSIR rule and q119's BM25 rule). The centroid
    * is a 1-row broadcast; the scoring pass is one [[Similarity.dot]]
    * per corpus row — no shuffle at corpus grain, then top-50.
    */
  val q126CentroidSelect: Q = (s, d) =>
    centroidRelevance(s, d)
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(50)

  /** The q126 scorer without its top-k cut — every non-eval vector's
    * decimal-exact dot with the eval-slice centroid direction, as
    * `(vec_id, rel)`. ONE definition for q126 and q137's dense leg
    * (SketchQueries) so the two cannot gate against diverging
    * scorers. The centroid is a 1-row broadcast; the scoring pass is
    * one [[Similarity.dot]] per corpus row — no shuffle at corpus
    * grain.
    */
  private[queries] def centroidRelevance(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cent = emb
      .filter(col("vec_id") % 10 === 0)
      .select(posexplode(col("embedding")).as(Seq("pos", "__x")))
      .groupBy(col("pos"))
      .agg(sum(col("__x").cast("double").cast("decimal(28,10)")).as("__s"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("pos"), col("__s")))).as("__raw"))
      .select(transform(col("__raw"), p => p.getField("__s").cast("double")).as("cent"))
    emb
      .filter(col("vec_id") % 10 =!= 0)
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), Similarity.dot(col("embedding"), col("cent")).as("rel"))
  }

  /** [[centroidRelevance]]'s oracle twin, shared with q137Sql: a
    * pre-stripped CTE chain ending in `crel(vec_id, rel)` — per-
    * position decimal sums over the eval slice, then the same
    * per-element double→decimal rounded dot. (`crel`, not `sc`,
    * because q137 composes it beside the BM25 chain.)
    */
  private[queries] val centroidRelevanceCtes: String =
    """x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |             generate_subscripts(embedding, 1) AS pos
      |      FROM embeddings),
      |ev AS (SELECT pos, SUM(CAST(v AS DECIMAL(28,10))) AS s FROM x WHERE (vec_id % 10) = 0 GROUP BY pos),
      |crel AS (SELECT x.vec_id,
      |          CAST(SUM(CAST(x.v * CAST(ev.s AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS rel
      |         FROM x JOIN ev ON ev.pos = x.pos WHERE (x.vec_id % 10) <> 0 GROUP BY x.vec_id)""".stripMargin

  /** Oracle: [[centroidRelevanceCtes]], top-50 by (rel, id). */
  val q126Sql: String =
    s"""WITH $centroidRelevanceCtes
      |SELECT vec_id, rel FROM crel
      |ORDER BY rel DESC NULLS FIRST, vec_id NULLS FIRST LIMIT 50""".stripMargin

  /** q127 — exact phrase search ([[TextAnalysis.phraseMatch]] for
    * "hash join"): conjunctive `array_contains` prefilter, then a
    * positional alignment count per surviving document — the
    * targeted-decontamination probe, with the conjunctive-but-not-
    * adjacent candidates reporting 0. 27 documents carry the phrase
    * at sf0.01; Verify enforces ≥ 1 (the q118 anti-vacuity rule).
    */
  val q127PhraseSearch: Q = (s, d) => {
    TextAnalysis
      .phraseMatch(Tables.table(s, d, "documents"), "text", "doc_id", Seq("hash", "join"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the same contains prefilter and a `list_filter` over the
    * alignment index range.
    */
  val q127Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |c AS (SELECT doc_id, toks FROM d
      |      WHERE list_contains(toks, 'hash') AND list_contains(toks, 'join'))
      |SELECT doc_id,
      |  CAST(len(list_filter(generate_series(1, len(toks) - 1),
      |                       i -> (toks[i] = 'hash') AND (toks[i + 1] = 'join'))) AS BIGINT) AS n_phrase
      |FROM c ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q128 — Johnson–Lindenstrauss projection to 16 dims
    * ([[Similarity.jlProject]]): the compress-before-cluster move for
    * embedding corpora, deterministic ±1 md5-parity weights, every
    * output coordinate a decimal-exact native dot. Wide output (one
    * column per projected dim) keeps the gate column-name-strict.
    */
  val q128JlProject: Q = (s, d) => {
    Similarity
      .jlProject(
        Tables.embeddings(s, d).filter(col("vec_id") < 100),
        "vec_id", "embedding", outDim = 16, dim = 64)
      .orderBy(col("vec_id"))
  }

  /** Oracle: the SAME ±1 weights inlined as a 1024-row VALUES table
    * (computed from the identical md5 parity at SQL-build time), the
    * same per-element double→decimal rounding, pivoted back to wide.
    */
  val q128Sql: String = {
    val weights = for (j <- 0 until 16; p <- 0 until 64) yield {
      val w = if (graft.functions.Hashing.h60Local(s"jl_${j}_$p") % 2 == 0) "1.0" else "-1.0"
      s"($j, ${p + 1}, $w)"
    }
    val pivot = (0 until 16)
      .map(j => s"MAX(CASE WHEN j = $j THEN y END) AS y$j")
      .mkString(",\n      |  ")
    s"""WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |                  generate_subscripts(embedding, 1) AS pos
       |           FROM embeddings WHERE vec_id < 100),
       |w(j, pos, wv) AS (VALUES ${weights.mkString(", ")}),
       |yl AS (SELECT x.vec_id, w.j,
       |        CAST(SUM(CAST(x.v * CAST(w.wv AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS y
       |       FROM x JOIN w ON w.pos = x.pos GROUP BY x.vec_id, w.j)
       |SELECT vec_id,
       |  $pivot
       |FROM yl GROUP BY vec_id ORDER BY vec_id NULLS FIRST""".stripMargin
  }

  /** q129 — hard-negative mining for contrastive training: for each
    * anchor vector (every 25th id), the 5 most-similar corpus vectors
    * INSIDE the "near but not duplicate" cosine band [0.05, 0.35) —
    * above it they are positives/duplicates (q23's threshold), below
    * it they are easy negatives that teach nothing. Exact decimal
    * cosine, ties to the smaller neighbor id — the mined set is
    * bit-stable across reruns and shards. Anchors broadcast; the
    * corpus streams (the q24 brute-force shape with a band filter
    * before the per-anchor top-k).
    */
  val q129NegativeMine: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 200)
    val n = Similarity.withSqNorm(emb, "embedding")
    val anchors = n.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("anchor_id"), col("embedding").as("a_emb"), col("sq_norm").as("a_sq"))
    val corpus = n
      .select(col("vec_id").as("neg_id"), col("embedding").as("c_emb"), col("sq_norm").as("c_sq"))
    val w = Window.partitionBy(col("anchor_id")).orderBy(col("cos").desc, col("neg_id"))
    broadcast(anchors)
      .join(corpus, col("anchor_id") =!= col("neg_id"))
      .select(
        col("anchor_id"),
        col("neg_id"),
        Similarity.cosine(Similarity.dot(col("a_emb"), col("c_emb")), col("a_sq"), col("c_sq")).as("cos"))
      .filter(col("cos") >= 0.05 && col("cos") < 0.35)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("anchor_id"), col("neg_id"), col("rank"), col("cos"))
      .orderBy(col("anchor_id"), col("rank"))
  }

  /** Oracle: the q117-style exact-cosine CTE over the slice, the same
    * band, the same per-anchor ROW_NUMBER pick.
    */
  val q129Sql: String =
    """WITH emb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
      |x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |             generate_subscripts(embedding, 1) AS pos FROM emb),
      |n2 AS (SELECT vec_id, CAST(SUM(CAST(v*v AS DECIMAL(28,10))) AS DOUBLE) AS sq
      |       FROM x GROUP BY vec_id),
      |dp AS (SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
      |        CAST(SUM(CAST(a.v * b.v AS DECIMAL(28,10))) AS DOUBLE) AS dot
      |       FROM x a JOIN x b ON a.pos = b.pos AND (a.vec_id % 25) = 0 AND a.vec_id <> b.vec_id
      |       GROUP BY 1, 2),
      |sc AS (SELECT anchor_id, neg_id, dot / (sqrt(na.sq) * sqrt(nb.sq)) AS cos
      |       FROM dp JOIN n2 na ON dp.anchor_id = na.vec_id JOIN n2 nb ON dp.neg_id = nb.vec_id),
      |b AS (SELECT anchor_id, neg_id, cos,
      |        CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos DESC, neg_id) AS BIGINT) AS rank
      |      FROM sc WHERE cos >= 0.05 AND cos < 0.35)
      |SELECT anchor_id, neg_id, rank, cos FROM b WHERE rank <= 5
      |ORDER BY anchor_id NULLS FIRST, rank NULLS FIRST""".stripMargin

  /** q130 — per-source vocabulary cardinality via HyperLogLog
    * ([[Relational.hllDistinct]] over word trigrams) next to its
    * exact `countDistinct` twin — the q43 sketch-vs-exact pattern for
    * the constant-state register sketch. The sketch side absorbs
    * duplicate grams map-side (no distinct shuffle); the exact side
    * pays it — at 100 TB the sketch column is the one that still
    * runs. Trigram cardinality (~1,100/source) sits well past the
    * 2.5·m small-range regime, so the uncorrected raw estimate is the
    * right estimator (σ ≈ 1.04/√64 ≈ 13%).
    */
  val q130HllVocab: Q = (s, d) => {
    val tri = Tables
      .table(s, d, "documents")
      .select(col("source"), explode(Dedup.wordNGramsAll(col("text"), 3)).as("tri"))
    val est = Relational.hllDistinct(tri, "source", "tri")
    val exact = tri.groupBy(col("source")).agg(countDistinct(col("tri")).as("exact_distinct"))
    est
      .join(exact, Seq("source"))
      .select(col("source"), col("hll_est"), col("exact_distinct"))
      .orderBy(col("source"))
  }

  /** Oracle: the same md5 registers, binary-string ρ ranks, integer
    * harmonic numerator, and one final double division.
    */
  val q130Sql: String =
    """WITH c AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
      |t AS (SELECT source, unnest(CASE WHEN len(ws) >= 3
      |        THEN [ws[i]||' '||ws[i+1]||' '||ws[i+2] for i in range(1, len(ws) - 1)]
      |        ELSE [] END) AS tri FROM c),
      |h AS (SELECT source, CAST('0x' || substr(md5(tri), 1, 15) AS BIGINT) AS hv FROM t),
      |rr AS (SELECT source, (hv % 64) AS r,
      |        (CASE WHEN (hv // 64) = 0 THEN 55
      |              ELSE 55 - length(format('{:b}', (hv // 64))) END) AS rk
      |       FROM h),
      |mr AS (SELECT source, r, MAX(rk) AS m FROM rr GROUP BY 1, 2),
      |srcs AS (SELECT DISTINCT source FROM t),
      |grid AS (SELECT s.source, g.r FROM srcs s
      |         CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS r) g),
      |regs AS (SELECT grid.source, COALESCE(mr.m, 0) AS m
      |         FROM grid LEFT JOIN mr ON mr.source = grid.source AND mr.r = grid.r),
      |mx AS (SELECT source, MAX(m) AS mx FROM regs GROUP BY 1),
      |nm AS (SELECT regs.source, MAX(mx.mx) AS mx,
      |        SUM((CAST(1 AS BIGINT) << (mx.mx - regs.m))) AS num
      |       FROM regs JOIN mx ON mx.source = regs.source GROUP BY regs.source),
      |ex AS (SELECT source, COUNT(DISTINCT tri) AS exact_distinct FROM t GROUP BY 1)
      |SELECT nm.source,
      |  ((0.709 * 4096.0 * CAST((CAST(1 AS BIGINT) << nm.mx) AS DOUBLE)) / CAST(nm.num AS DOUBLE)) AS hll_est,
      |  CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
      |FROM nm JOIN ex ON ex.source = nm.source
      |ORDER BY nm.source NULLS FIRST""".stripMargin

  /** q131 — incremental materialized-view maintenance
    * ([[Relational.aggState]]/[[Relational.mergeAggStates]]): the
    * standing per-event-type report is maintained as a mergeable
    * state (count / DECIMAL sum / min / max); an arriving increment
    * (every 5th event here) contributes its own small aggregate and
    * merges state-to-state. The oracle recomputes over the FULL
    * history — the gate IS the maintenance identity
    * `merge(agg(base), agg(delta)) ≡ agg(base ⊎ delta)`, which only
    * holds bit-for-bit because the sum is decimal (a double sum is
    * addition-order-sensitive and the identity would be false).
    */
  val q131IncrementalView: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_id"), col("event_type"), col("value"))
    val base = ev.filter(col("event_id") % 5 =!= 0)
    val delta = ev.filter(col("event_id") % 5 === 0)
    Relational
      .mergeAggStates(
        Relational.aggState(base, Seq("event_type"), "value"),
        Relational.aggState(delta, Seq("event_type"), "value"),
        Seq("event_type"))
      .select(
        col("event_type"),
        col("n"),
        col("sum_v").cast("double").as("sum_v"),
        col("min_v"),
        col("max_v"))
      .orderBy(col("event_type"))
  }

  /** Oracle: the full recompute — no split, no merge. */
  val q131Sql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_v,
      |  MIN(value) AS min_v, MAX(value) AS max_v
      |FROM events GROUP BY event_type
      |ORDER BY event_type NULLS FIRST""".stripMargin

  /** q132 — grouped top-k through the whole-operator Catalyst
    * extension stack ([[Relational.topKPerGroup]] → GRAFT_TOPK hint →
    * `graft.plans.TopKPerGroupNode/Strategy/Exec`): top-5 line items
    * per return flag by extended price, totally ordered by a unique
    * tie key. The physical plan is ONE hash exchange plus a bounded
    * k-heap pass — no Window, no per-group sort (PlanAuditSpec
    * asserts the shape); the oracle is the Window formulation the
    * operator replaces, so the gate is the rewrite's soundness.
    */
  val q132TopkOperator: Q = (s, d) => {
    val li = Tables
      .lineitem(s, d)
      .select(
        col("l_returnflag"),
        col("l_extendedprice"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("tie"))
    Relational
      .topKPerGroup(li, 5, "l_returnflag", "l_extendedprice", "tie")
      .orderBy(col("l_returnflag"), col("l_extendedprice").desc, col("tie"))
  }

  /** Oracle: the classic ROW_NUMBER window pick. */
  val q132Sql: String =
    """SELECT l_returnflag, l_extendedprice, tie FROM (
      |  SELECT l_returnflag, l_extendedprice,
      |    ((l_orderkey * 10) + l_linenumber) AS tie,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice DESC, ((l_orderkey * 10) + l_linenumber)) AS rn
      |  FROM lineitem)
      |WHERE rn <= 5
      |ORDER BY l_returnflag NULLS FIRST, l_extendedprice DESC NULLS FIRST, tie NULLS FIRST""".stripMargin

  /** q133 — declarative data-quality expectation suite
    * ([[graft.operators.Expectations]], the Deequ/Great-Expectations
    * shape generalizing the reference's single Q1 threshold gate):
    * six named constraints over `orders` — completeness, key
    * uniqueness, two value-domain rates, two bound checks — evaluated
    * in ONE aggregation pass and reported as integer-fraction
    * verdicts. Two constraints FAIL by construction (`status_strict`
    * excludes the real 'P' status; `price_capped` sits under the real
    * max), so the gate proves verdicts in both directions.
    */
  val q133Expectations: Q = (s, d) => {
    import graft.operators.Expectations
    import graft.operators.Expectations._
    Expectations
      .report(
        Tables.orders(s, d),
        Seq(
          NotNull("custkey_not_null", "o_custkey"),
          Unique("orderkey_unique", "o_orderkey"),
          InSet("status_strict", "o_orderstatus", Seq("O", "F")),
          InSet("status_domain", "o_orderstatus", Seq("O", "F", "P")),
          Bounded("price_capped", "o_totalprice", 0.0, 400000.0),
          Bounded("price_positive", "o_totalprice", 0.0, 1.0e9)))
      .orderBy(col("check"))
  }

  /** Oracle: the same one-pass aggregates unioned into report rows
    * with the identical integer cross-product verdicts.
    */
  val q133Sql: String =
    """WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(COUNT(*) FILTER (WHERE o_custkey IS NOT NULL) AS BIGINT) AS m0,
      |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS m1,
      |  CAST(COUNT(*) FILTER (WHERE o_orderstatus IN ('O', 'F')) AS BIGINT) AS m2,
      |  CAST(COUNT(*) FILTER (WHERE o_orderstatus IN ('O', 'F', 'P')) AS BIGINT) AS m3,
      |  CAST(COUNT(*) FILTER (WHERE o_totalprice >= 0.0 AND o_totalprice <= 400000.0) AS BIGINT) AS m4,
      |  CAST(COUNT(*) FILTER (WHERE o_totalprice >= 0.0 AND o_totalprice <= 1000000000.0) AS BIGINT) AS m5
      | FROM orders)
      |SELECT * FROM (
      |  SELECT 'custkey_not_null' AS "check", m0 AS metric_num, n AS metric_den, ((m0 * 1) >= (n * 1)) AS pass FROM a
      |  UNION ALL SELECT 'orderkey_unique', m1, n, ((m1 * 1) >= (n * 1)) FROM a
      |  UNION ALL SELECT 'status_strict', m2, n, ((m2 * 1) >= (n * 1)) FROM a
      |  UNION ALL SELECT 'status_domain', m3, n, ((m3 * 1) >= (n * 1)) FROM a
      |  UNION ALL SELECT 'price_capped', m4, n, ((m4 * 1) >= (n * 1)) FROM a
      |  UNION ALL SELECT 'price_positive', m5, n, ((m5 * 1) >= (n * 1)) FROM a)
      |ORDER BY "check" NULLS FIRST""".stripMargin

  /** q134 — corpus snapshot diff (dataset versioning observability):
    * given two corpus versions, classify every document id as added /
    * removed / changed / same by full-outer-joining content hashes.
    * The "what moved between v1 and v2" report every versioned data
    * release ships with. The new version is synthesized
    * deterministically from the fixture (every 11th doc removed,
    * every 13th rewritten, every 17th cloned under a new id) so all
    * four verdicts are exercised.
    */
  val q134SnapshotDiff: Q = (s, d) => {
    val docs = Tables.table(s, d, "documents").select(col("doc_id"), col("text"))
    val newV = docs
      .filter(col("doc_id") % 11 =!= 0)
      .select(
        col("doc_id"),
        when(col("doc_id") % 13 === 0, upper(col("text"))).otherwise(col("text")).as("text"))
      .unionByName(
        docs
          .filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    docs
      .select(col("doc_id"), md5(col("text")).as("h_old"))
      .join(newV.select(col("doc_id"), md5(col("text")).as("h_new")), Seq("doc_id"), "full_outer")
      .select(
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("same")
          .as("verdict"))
      .groupBy(col("verdict"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("verdict"))
  }

  val q134Sql: String =
    """WITH o AS (SELECT doc_id, md5(text) AS h FROM documents),
      |nw AS (
      |  SELECT doc_id, md5(CASE WHEN (doc_id % 13) = 0 THEN upper(text) ELSE text END) AS h
      |  FROM documents WHERE (doc_id % 11) <> 0
      |  UNION ALL
      |  SELECT (doc_id + 100000) AS doc_id, md5(text) AS h
      |  FROM documents WHERE (doc_id % 17) = 0),
      |j AS (SELECT o.h AS ho, nw.h AS hn FROM o FULL OUTER JOIN nw ON nw.doc_id = o.doc_id)
      |SELECT CASE WHEN ho IS NULL THEN 'added' WHEN hn IS NULL THEN 'removed'
      |            WHEN ho <> hn THEN 'changed' ELSE 'same' END AS verdict,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM j GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin

  /** q135 — split-balance contingency audit: the q84 hash split
    * crossed with language, every (split, lang) cell reported with
    * its observed count and the chi-square ingredients as EXACT
    * integer fractions — `E = r·c/N` as (r·c, N) and the cell's
    * chi-square term `(O·N − r·c)²/(N·r·c)` as (num, den) — so "is
    * the split language-balanced" is auditable per cell without a
    * float statistic whose summation order engines could disagree on.
    */
  val q135SplitBalance: Q = (s, d) => {
    val bucket = Hashing.h60(concat(lit("split:"), col("doc_id"))) % 100
    val cells = Tables
      .table(s, d, "documents")
      .select(
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").as("split"),
        col("lang"))
    // One corpus-grain pass (the per-row md5 bucket): r, c, and n are
    // exact rollups of the tiny (split, lang) cell frame — persisted
    // so its four consumers read it once (released by the session
    // sweep). SUM of counts ≡ the direct COUNT per marginal.
    val o = cells.groupBy(col("split"), col("lang")).agg(count(lit(1)).as("o")).persist()
    val r = o.groupBy(col("split")).agg(sum(col("o")).as("r"))
    val c = o.groupBy(col("lang")).agg(sum(col("o")).as("c"))
    val n = o.agg(sum(col("o")).as("n"))
    val dec = "decimal(38,0)"
    o.join(broadcast(r), Seq("split"))
      .join(broadcast(c), Seq("lang"))
      .crossJoin(broadcast(n))
      .select(
        col("split"),
        col("lang"),
        col("o"),
        (col("r") * col("c")).as("e_num"),
        col("n").as("e_den"),
        ((col("o").cast(dec) * col("n").cast(dec) - col("r").cast(dec) * col("c").cast(dec)) *
          (col("o").cast(dec) * col("n").cast(dec) - col("r").cast(dec) * col("c").cast(dec)))
          .cast("long")
          .as("chi_num"),
        (col("n").cast(dec) * col("r").cast(dec) * col("c").cast(dec)).cast("long").as("chi_den"))
      .orderBy(col("split"), col("lang"))
  }

  val q135Sql: String =
    """WITH cells AS (SELECT
      |  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split, lang
      | FROM (SELECT (CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100) AS b, lang
      |       FROM documents)),
      |o AS (SELECT split, lang, COUNT(*) AS o FROM cells GROUP BY 1, 2),
      |r AS (SELECT split, COUNT(*) AS r FROM cells GROUP BY 1),
      |c AS (SELECT lang, COUNT(*) AS c FROM cells GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM cells)
      |SELECT o.split, o.lang, CAST(o.o AS BIGINT) AS o,
      |  CAST((r.r * c.c) AS BIGINT) AS e_num, CAST(n.n AS BIGINT) AS e_den,
      |  CAST(((o.o * n.n) - (r.r * c.c)) * ((o.o * n.n) - (r.r * c.c)) AS BIGINT) AS chi_num,
      |  CAST((n.n * r.r * c.c) AS BIGINT) AS chi_den
      |FROM o JOIN r ON r.split = o.split JOIN c ON c.lang = o.lang, n
      |ORDER BY o.split NULLS FIRST, o.lang NULLS FIRST""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q119_bm25_select", q119Bm25, q119Sql),
    Query("q120_kmeans", q120Kmeans, q120Sql),
    Query("q121_temperature_mix", q121TemperatureMix, q121Sql),
    Query("q122_cluster_balance", q122ClusterBalance, q122Sql),
    Query("q123_loop_screen", q123LoopScreen, q123Sql),
    Query("q124_epoch_upsample", q124EpochUpsample, q124Sql),
    Query("q125_winsorized_mean", q125Winsorize, q125Sql),
    Query("q126_centroid_select", q126CentroidSelect, q126Sql),
    Query("q127_phrase_search", q127PhraseSearch, q127Sql),
    Query("q128_jl_project", q128JlProject, q128Sql),
    Query("q129_negative_mine", q129NegativeMine, q129Sql),
    Query("q130_hll_vocab", q130HllVocab, q130Sql),
    Query("q131_incremental_view", q131IncrementalView, q131Sql),
    Query("q132_topk_operator", q132TopkOperator, q132Sql),
    Query("q133_expectations", q133Expectations, q133Sql),
    Query("q134_snapshot_diff", q134SnapshotDiff, q134Sql),
    Query("q135_split_balance", q135SplitBalance, q135Sql))
}
