package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.queries.CoreQueries.Q

/** Round-7 surface: the training-data endgame operators — the
  * semantic-dedup keep-list (embedding near-dup pairs composed through
  * connected components into the per-document keep/drop verdict, the
  * "SemDeDup" shape), the benchmark-contamination screen (n-gram
  * train/test decontamination), sequence packing (greedy fill of
  * fixed-length training sequences), the leakage-safe train/val
  * split (hash the near-dup cluster, not the document),
  * cross-document span dedup (substring-granularity duplicate and
  * boilerplate stats, the C4/RefinedWeb shape), collocation mining
  * (lift-scored bigrams — integer-exact PMI ranking), and the
  * per-source quality funnel (cumulative survival counts through
  * langid → quality → span-dedup → decontamination), the DSIR-style
  * importance keep-rule (hashed-bigram likelihood selection, integer-
  * exact), and the cross-source KMV overlap matrix (bottom-k sketch
  * intersection — which corpus-slice pairs warrant a cross-dedup run).
  *
  * Same determinism contract as the other catalogs: decimal-exact
  * cosine, min-id canonical, pure-function shard assignment, no RNG.
  */
object Round7Queries {

  /** q104 — semantic-dedup keep-list ([[Dedup.keepList]]): q23's
    * decimal-exact cosine pairs (≥ 0.35) over the q51 slice, clustered
    * via [[Dedup.connectedComponents]], every document labeled with
    * its canonical id, cluster size, and the keep verdict — singletons
    * (no near-dup edge) keep themselves. This is the full-corpus
    * ACTION q51's component map implies: one call from embeddings to
    * "which rows survive dedup". The exact pair generator is the
    * oracle-friendly gate; at corpus scale the same keep-list runs off
    * [[Similarity.srpAnnTopKInt8]] candidates instead (q102's plan —
    * every stage a bucketed equi-join).
    */
  val q104SemanticKeepList: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 150)
    val pairs = Similarity
      .nearDupPairs(emb, "vec_id", "embedding", 0.35)
      .select(col("vec_a"), col("vec_b"))
    Dedup.keepList(emb, "vec_id", pairs).orderBy(col("vec_id"))
  }

  /** Oracle: q51's recursive-CTE components extended with the
    * keep-list labeling (left join for singletons, size count,
    * keep ⇔ id = canonical).
    */
  val q104Sql: String =
    """WITH RECURSIVE
      |e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150),
      |x AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding,1) AS pos FROM e),
      |n AS (SELECT vec_id, CAST(SUM(CAST(CAST(v AS DOUBLE)*CAST(v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS sq
      |      FROM x GROUP BY vec_id),
      |dp AS (SELECT a.vec_id AS va, b.vec_id AS vb,
      |        CAST(SUM(CAST(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS dot
      |       FROM x a JOIN x b ON a.pos = b.pos AND a.vec_id < b.vec_id GROUP BY 1, 2),
      |pairs AS (SELECT va, vb FROM dp JOIN n na ON dp.va = na.vec_id JOIN n nb ON dp.vb = nb.vec_id
      |          WHERE dot/(sqrt(na.sq)*sqrt(nb.sq)) >= 0.35),
      |edges AS (SELECT va AS src, vb AS dst FROM pairs UNION SELECT vb, va FROM pairs),
      |walk(node, comp) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e2.dst, w.comp FROM walk w JOIN edges e2 ON e2.src = w.node),
      |comp AS (SELECT node, MIN(comp) AS component FROM walk GROUP BY node),
      |lab AS (SELECT e.vec_id, COALESCE(c.component, e.vec_id) AS canonical_id
      |        FROM e LEFT JOIN comp c ON e.vec_id = c.node),
      |sz AS (SELECT canonical_id, COUNT(*) AS cluster_size FROM lab GROUP BY canonical_id)
      |SELECT CAST(l.vec_id AS BIGINT) AS vec_id,
      | CAST(l.canonical_id AS BIGINT) AS canonical_id,
      | CAST(sz.cluster_size AS BIGINT) AS cluster_size,
      | l.vec_id = l.canonical_id AS keep
      |FROM lab l JOIN sz USING (canonical_id)
      |ORDER BY vec_id NULLS FIRST""".stripMargin

  /** q105 — benchmark-contamination screen
    * ([[graft.operators.TextAnalysis.contaminationScreen]]): every
    * corpus document scored by the fraction of its distinct word
    * 5-grams that appear in the eval set's n-gram universe (eval set =
    * every 20th document of the same slice, so the eval documents
    * themselves surface as fully-contaminated sanity anchors), flagged
    * at ≥ 0.3 — the standard n-gram train/test decontamination method.
    * The eval universe is distincted once and broadcast; the corpus
    * side is one explode + map-side semi join + one aggregation.
    */
  val q105ContaminationScreen: Q = (s, d) => {
    val corpus = Tables.documents(s, d).filter(col("doc_id") < 400)
    val evalSet = corpus.filter(col("doc_id") % 20 === 7)
    graft.operators.TextAnalysis
      .contaminationScreen(corpus, evalSet, "doc_id", "text", 5, 0.3)
      .orderBy(col("doc_id"))
  }

  /** Oracle: the same 5-gram construction as q22's (list comprehension
    * over the split tokens), eval universe via DISTINCT unnest, hit
    * count via a semi-join-shaped IN, rates as double division with the
    * zero-gram CASE guard.
    */
  val q105Sql: String =
    """WITH c AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents WHERE doc_id < 400),
      |g AS (SELECT doc_id, list_distinct(
      |        CASE WHEN len(ws) >= 5
      |             THEN [ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] for i in range(1, len(ws)-3)]
      |             ELSE [] END) AS gs FROM c),
      |e AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 20 = 7),
      |x AS (SELECT doc_id, unnest(gs) AS gram FROM g),
      |h AS (SELECT doc_id, COUNT(*) AS n_hit FROM x WHERE gram IN (SELECT gram FROM e) GROUP BY doc_id)
      |SELECT g.doc_id,
      | CAST(len(g.gs) AS BIGINT) AS n_grams,
      | CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
      | CASE WHEN len(g.gs) > 0 THEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE)/CAST(len(g.gs) AS DOUBLE) ELSE 0.0 END AS hit_rate,
      | (CASE WHEN len(g.gs) > 0 THEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE)/CAST(len(g.gs) AS DOUBLE) ELSE 0.0 END) >= 0.3 AS contaminated
      |FROM g LEFT JOIN h ON g.doc_id = h.doc_id
      |ORDER BY g.doc_id NULLS FIRST""".stripMargin

  /** q106 — sequence packing
    * ([[graft.operators.TextAnalysis.packSequences]]): every document
    * assigned to a fixed-512-token training sequence by greedy
    * in-order fill within 8 id-modulo shards (bins never span shards).
    * The full per-document (shard, bin) mapping is the gate — the
    * oracle replays the identical greedy recurrence as a per-shard
    * recursive CTE.
    */
  val q106PackSequences: Q = (s, d) => {
    graft.operators.TextAnalysis
      .packSequences(
        Tables.documents(s, d).filter(col("doc_id") < 400),
        "doc_id", "text", 512, 8)
      .orderBy(col("doc_id"))
  }

  val q106Sql: String =
    """WITH RECURSIVE
      |docs AS (SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS shard,
      |                least(CAST(len(string_split(text,' ')) AS BIGINT), 512) AS n
      |         FROM documents WHERE doc_id < 400),
      |ord AS (SELECT doc_id, shard, n,
      |               row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
      |        FROM docs),
      |pack(shard, rn, doc_id, n, bin, fill) AS (
      |  SELECT shard, rn, doc_id, n, CAST(0 AS BIGINT), n FROM ord WHERE rn = 1
      |  UNION ALL
      |  SELECT o.shard, o.rn, o.doc_id, o.n,
      |         CASE WHEN p.fill + o.n <= 512 THEN p.bin ELSE p.bin + 1 END,
      |         CASE WHEN p.fill + o.n <= 512 THEN p.fill + o.n ELSE o.n END
      |  FROM pack p JOIN ord o ON o.shard = p.shard AND o.rn = p.rn + 1)
      |SELECT doc_id, shard, CAST(n AS BIGINT) AS n_tok, CAST(bin AS BIGINT) AS bin
      |FROM pack ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q107 — leakage-safe train/val split ([[Dedup.leakageSafeSplit]]):
    * q104's near-dup clusters hashed at the CLUSTER level into
    * train/val (300‰ val), so a validation document can never have a
    * near-duplicate in train. Same pair slice as q104; the oracle
    * replays the component CTE and the md5-mod split.
    */
  val q107LeakageSafeSplit: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 150)
    val pairs = Similarity
      .nearDupPairs(emb, "vec_id", "embedding", 0.35)
      .select(col("vec_a"), col("vec_b"))
    Dedup.leakageSafeSplit(emb, "vec_id", pairs, valPermille = 300).orderBy(col("vec_id"))
  }

  val q107Sql: String =
    """WITH RECURSIVE
      |e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150),
      |x AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding,1) AS pos FROM e),
      |n AS (SELECT vec_id, CAST(SUM(CAST(CAST(v AS DOUBLE)*CAST(v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS sq
      |      FROM x GROUP BY vec_id),
      |dp AS (SELECT a.vec_id AS va, b.vec_id AS vb,
      |        CAST(SUM(CAST(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS dot
      |       FROM x a JOIN x b ON a.pos = b.pos AND a.vec_id < b.vec_id GROUP BY 1, 2),
      |pairs AS (SELECT va, vb FROM dp JOIN n na ON dp.va = na.vec_id JOIN n nb ON dp.vb = nb.vec_id
      |          WHERE dot/(sqrt(na.sq)*sqrt(nb.sq)) >= 0.35),
      |edges AS (SELECT va AS src, vb AS dst FROM pairs UNION SELECT vb, va FROM pairs),
      |walk(node, comp) AS (
      |  SELECT src, src FROM edges
      |  UNION
      |  SELECT e2.dst, w.comp FROM walk w JOIN edges e2 ON e2.src = w.node),
      |comp AS (SELECT node, MIN(comp) AS component FROM walk GROUP BY node),
      |lab AS (SELECT e.vec_id, CAST(COALESCE(c.component, e.vec_id) AS BIGINT) AS canonical_id
      |        FROM e LEFT JOIN comp c ON e.vec_id = c.node)
      |SELECT CAST(vec_id AS BIGINT) AS vec_id, canonical_id,
      | CASE WHEN CAST('0x'||substr(md5(CAST(canonical_id AS VARCHAR)),1,8) AS BIGINT) % 1000 < 300
      |      THEN 'val' ELSE 'train' END AS split
      |FROM lab ORDER BY vec_id NULLS FIRST""".stripMargin

  /** q108 — cross-document span dedup ([[Dedup.spanDedupStats]]):
    * 8-token spans every 4 tokens over each document, hashed with h60;
    * per document the count of spans that are non-first occurrences
    * corpus-wide (what substring-dedup would cut) and of boilerplate
    * spans (value in ≥ 2 distinct documents — low because the gate's
    * 400-doc slice is small; production corpora use a higher cutoff,
    * which is the operator's free parameter). Sub-document granularity
    * — the C4/RefinedWeb substring-dedup shape — where q19/q97
    * deduplicate whole documents.
    */
  val q108SpanDedup: Q = (s, d) => {
    Dedup
      .spanDedupStats(
        Tables.documents(s, d).filter(col("doc_id") < 400),
        "doc_id", "text", window = 8, stride = 4, boilerplateDocs = 2)
      .orderBy(col("doc_id"))
  }

  /** Oracle: the identical span construction (LATERAL unnest over the
    * full-window count, list_slice + array_to_string + the h60 md5
    * twin), first-occurrence via a (doc_id, i)-ordered row_number per
    * hash, boilerplate via a per-hash distinct-doc count.
    */
  val q108Sql: String =
    """WITH c AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text,' ') AS ws
      |           FROM documents WHERE doc_id < 400),
      |sp AS (SELECT doc_id, i,
      |        CAST('0x'||substr(md5(array_to_string(list_slice(ws, i*4+1, i*4+8), ' ')),1,15) AS BIGINT) AS h
      |       FROM c, LATERAL (SELECT unnest(range(0, (len(ws)-8)//4 + 1)) AS i)
      |       WHERE len(ws) >= 8),
      |spr AS (SELECT doc_id, i, h,
      |         row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn FROM sp),
      |nd AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM sp GROUP BY h),
      |pd AS (SELECT s.doc_id, COUNT(*) AS n_spans,
      |        SUM(CASE WHEN s.rn > 1 THEN 1 ELSE 0 END) AS n_dup,
      |        SUM(CASE WHEN nd.ndocs >= 2 THEN 1 ELSE 0 END) AS n_boiler
      |       FROM spr s JOIN nd ON s.h = nd.h GROUP BY s.doc_id)
      |SELECT c.doc_id,
      | CAST(COALESCE(pd.n_spans, 0) AS BIGINT) AS n_spans,
      | CAST(COALESCE(pd.n_dup, 0) AS BIGINT) AS n_dup,
      | CAST(COALESCE(pd.n_boiler, 0) AS BIGINT) AS n_boiler,
      | CASE WHEN COALESCE(pd.n_spans, 0) > 0
      |      THEN CAST(pd.n_dup AS DOUBLE)/CAST(pd.n_spans AS DOUBLE) ELSE 0.0 END AS dup_frac
      |FROM c LEFT JOIN pd ON c.doc_id = pd.doc_id
      |ORDER BY c.doc_id NULLS FIRST""".stripMargin

  /** q109 — collocation mining
    * ([[graft.operators.TextAnalysis.collocationLift]]): the top-20
    * bigrams of the corpus by LIFT (`p(ab)/(p(a)p(b))`, the
    * exact-integer monotone twin of PMI), count floor 5 — the
    * multi-word-unit detector of vocabulary induction. Total order by
    * (lift desc, bigram) so double ties cannot flap the cut.
    */
  val q109CollocationLift: Q = (s, d) => {
    graft.operators.TextAnalysis
      .collocationLift(Tables.documents(s, d).filter(col("doc_id") < 400), "text", minCount = 5)
      .orderBy(col("lift").desc, col("bigram"))
      .limit(20)
  }

  /** Oracle: the same two token passes (bigrams via the q105-style
    * list comprehension, multiplicity kept), vocabulary joins on each
    * component, corpus totals as a cross join, and the identical
    * DECIMAL(38,0)-exact numerator/denominator divided as doubles.
    */
  val q109Sql: String =
    """WITH c AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents WHERE doc_id < 400),
      |t AS (SELECT unnest(ws) AS w FROM c),
      |uni AS (SELECT w, COUNT(*) AS c_w FROM t GROUP BY w),
      |bg AS (SELECT unnest(CASE WHEN len(ws) >= 2
      |        THEN [ws[i]||' '||ws[i+1] for i in range(1, len(ws))]
      |        ELSE [] END) AS bigram FROM c),
      |cb AS (SELECT bigram, COUNT(*) AS c_ab FROM bg GROUP BY bigram HAVING COUNT(*) >= 5),
      |tot AS (SELECT (SELECT COUNT(*) FROM t) AS n1, (SELECT COUNT(*) FROM bg) AS n2)
      |SELECT cb.bigram, CAST(cb.c_ab AS BIGINT) AS c_ab,
      | CAST(ua.c_w AS BIGINT) AS c_a, CAST(ub.c_w AS BIGINT) AS c_b,
      | CAST(CAST(cb.c_ab AS DECIMAL(38,0))*CAST(tot.n1 AS DECIMAL(38,0))*CAST(tot.n1 AS DECIMAL(38,0)) AS DOUBLE)
      | / CAST(CAST(tot.n2 AS DECIMAL(38,0))*CAST(ua.c_w AS DECIMAL(38,0))*CAST(ub.c_w AS DECIMAL(38,0)) AS DOUBLE) AS lift
      |FROM cb CROSS JOIN tot
      |JOIN uni ua ON string_split(cb.bigram,' ')[1] = ua.w
      |JOIN uni ub ON string_split(cb.bigram,' ')[2] = ub.w
      |ORDER BY lift DESC, cb.bigram LIMIT 20""".stripMargin

  /** q110 — per-source quality FUNNEL: the observability report every
    * training-data run emits — how many documents of each source
    * survive each pipeline stage, cumulatively: language ID = 'en'
    * (q26's argmax), quality score ≥ 0.6 (q27's composite),
    * span-dedup clean (q108's n_dup = 0 — exact dedup is vacuous on
    * this corpus, whose texts are all unique; partial copying is what
    * actually trims), and decontaminated (q105's hit_rate < 0.3,
    * which zeroes out the eval source itself — the sanity anchor).
    * One row per source with monotone counts. All stages reuse the
    * individually-gated operators, so this gate pins the COMPOSITION:
    * the joins keep per-document grain until the single final
    * aggregation on source.
    */
  val q110QualityFunnel: Q = (s, d) => {
    import graft.operators.TextAnalysis
    import TextAnalysis._
    val docs = Tables.documents(s, d).filter(col("doc_id") < 400)
    val pred = docs
      .select(
        col("doc_id"),
        col("source"),
        cjkCount(col("text")).as("cjk"),
        markerHits(col("text"), markers("de")).as("s_de"),
        markerHits(col("text"), markers("en")).as("s_en"),
        markerHits(col("text"), markers("es")).as("s_es"),
        markerHits(col("text"), markers("fr")).as("s_fr"),
        wsTokenCount(col("text")).as("nt"),
        // empty doc -> 0.0, not an ANSI /0 throw (q27's shared semantic)
        when(
          length(col("text")) > 0,
          alphaCount(col("text")).cast("double") / length(col("text")).cast("double"))
          .otherwise(0.0)
          .as("alpha_ratio"))
      .withColumn(
        "predicted",
        predictLang(col("cjk"), col("s_de"), col("s_en"), col("s_es"), col("s_fr")))
      .withColumn(
        "score",
        qualityScore(
          col("alpha_ratio"),
          col("nt"),
          col("s_en").cast("double") / col("nt").cast("double")))
      .select(col("doc_id"), col("source"), col("predicted"), col("score"))
    val spanClean = Dedup
      .spanDedupStats(docs, "doc_id", "text", window = 8, stride = 4, boilerplateDocs = 2)
      .select(col("doc_id"), (col("n_dup") === 0L).as("span_clean"))
    val contam = TextAnalysis
      .contaminationScreen(docs, docs.filter(col("doc_id") % 20 === 7), "doc_id", "text", 5, 0.3)
      .select(col("doc_id"), col("hit_rate"))
    pred
      .join(spanClean, Seq("doc_id"))
      .join(contam, Seq("doc_id"))
      .withColumn("p1", col("predicted") === "en")
      .withColumn("p2", col("p1") && col("score") >= 0.6)
      .withColumn("p3", col("p2") && col("span_clean"))
      .withColumn("p4", col("p3") && col("hit_rate") < 0.3)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("p1"), 1L).otherwise(0L)).as("n_lang"),
        sum(when(col("p2"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("p3"), 1L).otherwise(0L)).as("n_spanclean"),
        sum(when(col("p4"), 1L).otherwise(0L)).as("n_final"))
      .orderBy(col("source"))
  }

  /** Oracle: the q26/q27/q108/q105 SQL fragments composed at document
    * grain, then one GROUP BY source. Marker lists inlined from
    * [[graft.operators.TextAnalysis.markers]] (same source of truth
    * as q26Sql/q27Sql).
    */
  val q110Sql: String = {
    def inList(vocab: Seq[String]): String = vocab.map(v => s"'$v'").mkString("(", ", ", ")")
    val m = graft.operators.TextAnalysis.markers
    s"""WITH docs AS (SELECT doc_id, source, text FROM documents WHERE doc_id < 400),
       |feat AS (SELECT doc_id, source,
       |  CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS BIGINT) AS cjk,
       |  CAST(len(list_filter(string_split(text,' '), t -> t IN ${inList(m("de"))})) AS BIGINT) AS s_de,
       |  CAST(len(list_filter(string_split(text,' '), t -> t IN ${inList(m("en"))})) AS BIGINT) AS s_en,
       |  CAST(len(list_filter(string_split(text,' '), t -> t IN ${inList(m("es"))})) AS BIGINT) AS s_es,
       |  CAST(len(list_filter(string_split(text,' '), t -> t IN ${inList(m("fr"))})) AS BIGINT) AS s_fr,
       |  CAST(len(string_split(text,' ')) AS BIGINT) AS nt,
       |  COALESCE(CAST(len(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)/CAST(len(text) AS DOUBLE), 0.0) AS alpha_ratio
       | FROM docs),
       |pred AS (SELECT doc_id, source,
       |  CASE WHEN cjk > 0 THEN 'zh'
       |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS predicted,
       |  0.4*alpha_ratio + 0.3*least(1.0, CAST(nt AS DOUBLE)/100.0)
       |   + 0.3*(1.0 - CAST(s_en AS DOUBLE)/CAST(nt AS DOUBLE)) AS score
       | FROM feat),
       |sp AS (SELECT doc_id, i,
       |        CAST('0x'||substr(md5(array_to_string(list_slice(ws, i*4+1, i*4+8), ' ')),1,15) AS BIGINT) AS h
       |       FROM (SELECT doc_id, string_split(text,' ') AS ws FROM docs),
       |            LATERAL (SELECT unnest(range(0, (len(ws)-8)//4 + 1)) AS i)
       |       WHERE len(ws) >= 8),
       |dup AS (SELECT DISTINCT doc_id FROM
       |         (SELECT doc_id, row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn FROM sp)
       |        WHERE rn > 1),
       |g AS (SELECT doc_id, list_distinct(
       |        CASE WHEN len(ws) >= 5
       |             THEN [ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] for i in range(1, len(ws)-3)]
       |             ELSE [] END) AS gs
       |      FROM (SELECT doc_id, string_split(text,' ') AS ws FROM docs)),
       |e AS (SELECT DISTINCT unnest(gs) AS gram FROM g WHERE doc_id % 20 = 7),
       |x AS (SELECT doc_id, unnest(gs) AS gram FROM g),
       |h2 AS (SELECT doc_id, COUNT(*) AS n_hit FROM x WHERE gram IN (SELECT gram FROM e) GROUP BY doc_id),
       |contam AS (SELECT g.doc_id,
       |   CASE WHEN len(g.gs) > 0 THEN CAST(COALESCE(h2.n_hit,0) AS DOUBLE)/CAST(len(g.gs) AS DOUBLE) ELSE 0.0 END AS hit_rate
       |  FROM g LEFT JOIN h2 ON g.doc_id = h2.doc_id),
       |fun AS (SELECT p.source,
       |   p.predicted = 'en' AS p1,
       |   p.predicted = 'en' AND p.score >= 0.6 AS p2,
       |   p.predicted = 'en' AND p.score >= 0.6 AND p.doc_id NOT IN (SELECT doc_id FROM dup) AS p3,
       |   p.predicted = 'en' AND p.score >= 0.6 AND p.doc_id NOT IN (SELECT doc_id FROM dup) AND c.hit_rate < 0.3 AS p4
       |  FROM pred p JOIN contam c ON p.doc_id = c.doc_id)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
       | CAST(SUM(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       | CAST(SUM(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       | CAST(SUM(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS n_spanclean,
       | CAST(SUM(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT) AS n_final
       |FROM fun GROUP BY source ORDER BY source NULLS FIRST""".stripMargin
  }

  /** q111 — DSIR-style importance keep-rule
    * ([[graft.operators.TextAnalysis.importanceKeepRule]]): hashed-
    * bigram target/corpus bucket counts (1024 buckets, target =
    * `lang = 'en'`), every document scored by the target-share of its
    * buckets and kept iff above the corpus-wide share — the
    * importance-resampling selection step, integer-exact (the keep
    * verdict is a DECIMAL(38,0) cross-product, no division), so the
    * DuckDB oracle reproduces every bit.
    */
  val q111ImportanceKeep: Q = (s, d) =>
    TextAnalysis
      .importanceKeepRule(
        Tables.documents(s, d), "text", "doc_id",
        col("lang") === "en", buckets = 1024)
      .orderBy(col("doc_id"))

  val q111Sql: String =
    """WITH w AS (SELECT doc_id, lang = 'en' AS tgt, string_split(text,' ') AS ws FROM documents),
      |g AS (SELECT doc_id, tgt, unnest([ws[i]||' '||ws[i+1] for i in range(1, CAST(len(ws) AS BIGINT))]) AS bigram FROM w),
      |gb AS (SELECT doc_id, tgt, CAST('0x' || substr(md5(bigram),1,8) AS BIGINT) % 1024 AS bucket FROM g),
      |bc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_all,
      |        CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS c_tgt FROM gb GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c_all) AS BIGINT) AS c_total, CAST(SUM(c_tgt) AS BIGINT) AS t_total FROM bc),
      |per AS (SELECT doc_id, CAST(SUM(bc.c_tgt) AS BIGINT) AS hits, CAST(SUM(bc.c_all) AS BIGINT) AS norm
      |        FROM gb JOIN bc USING (bucket) GROUP BY 1)
      |SELECT doc_id, hits, norm,
      | CAST(hits AS DECIMAL(19,0)) * CAST((SELECT c_total FROM tot) AS DECIMAL(19,0))
      |  >= CAST(norm AS DECIMAL(19,0)) * CAST((SELECT t_total FROM tot) AS DECIMAL(19,0)) AS keep
      |FROM per ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q112 — cross-source corpus-overlap matrix
    * ([[graft.operators.TextAnalysis.sourceOverlapKmv]]): per-source
    * bottom-64 KMV sketches over word 3-gram shingles, intersected
    * pairwise — the slice-overlap triage report. Sketches are
    * deterministic md5-derived hash sets, so the DuckDB oracle
    * rebuilds them exactly (row_number over ordered distinct hashes).
    */
  val q112SourceOverlap: Q = (s, d) =>
    TextAnalysis
      .sourceOverlapKmv(Tables.documents(s, d), "text", "source", n = 3, k = 64)
      .orderBy(col("src_a"), col("src_b"))

  val q112Sql: String =
    """WITH w AS (SELECT source, string_split(text,' ') AS ws FROM documents),
      |g AS (SELECT source, unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2] for i in range(1, CAST(len(ws) AS BIGINT)-1)]) AS sh FROM w),
      |h AS (SELECT DISTINCT source, CAST('0x' || substr(md5(sh),1,15) AS BIGINT) AS hv FROM g),
      |r AS (SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM h),
      |sk AS (SELECT source, hv FROM r WHERE rn <= 64)
      |SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS overlap_k
      |FROM sk a JOIN sk b ON a.hv = b.hv AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY src_a NULLS FIRST, src_b NULLS FIRST""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q104_semantic_keeplist", q104SemanticKeepList, q104Sql),
    Query("q105_contamination", q105ContaminationScreen, q105Sql),
    Query("q106_pack_sequences", q106PackSequences, q106Sql),
    Query("q107_leakage_split", q107LeakageSafeSplit, q107Sql),
    Query("q108_span_dedup", q108SpanDedup, q108Sql),
    Query("q109_collocation_lift", q109CollocationLift, q109Sql),
    Query("q110_quality_funnel", q110QualityFunnel, q110Sql),
    Query("q111_importance_keep", q111ImportanceKeep, q111Sql),
    Query("q112_source_overlap", q112SourceOverlap, q112Sql))
}
