package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Relational, Similarity, TextAnalysis}
import graft.queries.CoreQueries.Q

/** Round-4 surface: edge-semantics gates for the text operators
  * (empty / sub-width documents), banded SimHash candidate generation,
  * and the remaining robustness items from the round-3 verdict.
  *
  * Same determinism contract as the other catalogs: exact decimal for
  * accumulations, md5-derived hashes shared with the DuckDB oracle, no
  * engine-private RNG, ties always broken by a unique key.
  */
object Round4Queries {

  /** q75 — text-operator EDGE semantics pinned by oracle: for texts of
    * length 0..6 (derived deterministically from the fixture via
    * `substr(text, 1, doc_id % 7)`), count char-3-shingles, word
    * 2-grams, and window-3/stride-2 chunks. Pins the policy that
    * empty/sub-width texts yield EMPTY shingle/n-gram sets and that an
    * empty document yields ZERO chunks — the inputs where Spark's
    * descending `sequence()` previously fabricated phantom rows.
    */
  val q75EdgeText: Q = (s, d) => {
    // Raw scan: substring/length edge cases are trivial per-row work —
    // the corpus spread's exchange is overhead, not parallelism, here.
    val base = Tables
      .table(s, d, "documents")
      .select(
        col("doc_id"),
        col("text").substr(lit(1), (col("doc_id") % 7).cast("int")).as("t"))
    val perDoc = base.select(
      col("doc_id"),
      length(col("t")).cast("long").as("len"),
      size(Dedup.charShingles(col("t"), 3)).cast("long").as("n_shingles"),
      size(Dedup.wordNGrams(col("t"), 2)).cast("long").as("n_ngrams"))
    val chunkCounts = TextAnalysis
      .chunk(base, "t", window = 3, stride = 2)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
    perDoc
      .join(chunkCounts, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("len"),
        col("n_shingles"),
        col("n_ngrams"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"))
      .orderBy(col("doc_id"))
  }

  val q75Sql: String =
    s"""WITH b AS (SELECT doc_id, substr(text, 1, CAST(doc_id % 7 AS INT)) AS t FROM documents),
      |w AS (SELECT doc_id, t, string_split(t, ' ') AS ws FROM b),
      |sh AS (SELECT doc_id,
      |  CAST(length(t) AS BIGINT) AS len,
      |  COALESCE(CAST(len(list_distinct([substr(${CoreQueries.foldSql("t")}, i, 3) for i in range(1, CAST(length(t)-1 AS BIGINT))])) AS BIGINT), 0) AS n_shingles,
      |  COALESCE(CAST(len(list_distinct([ws[i]||' '||ws[i+1] for i in range(1, CAST(len(ws) AS BIGINT))])) AS BIGINT), 0) AS n_ngrams
      |  FROM w),
      |c AS (SELECT doc_id, COALESCE(CAST(greatest(floor((length(t)-1)/2.0)+1, 0) AS BIGINT), 0) AS n_chunks FROM b)
      |SELECT sh.doc_id, len, n_shingles, n_ngrams, c.n_chunks
      |FROM sh JOIN c ON sh.doc_id = c.doc_id
      |ORDER BY sh.doc_id NULLS FIRST""".stripMargin

  /** q76 — IVF ANN: cells from 16 deterministic centroids (the 16
    * lowest vec_ids), queries 100–109 probe their 2 nearest cells,
    * exact-cosine top-3 within probed cells. The inverted-file twin of
    * q25's SRP-LSH — both turn ANN into a bucket equi-join; IVF buys
    * data-adaptive cells for the cost of the centroid pass.
    */
  val q76IvfAnn: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity
      .ivfAnnTopK(
        emb.filter(col("vec_id") >= 100 && col("vec_id") < 110),
        emb,
        "vec_id",
        "embedding",
        emb.filter(col("vec_id") < 16),
        "vec_id",
        nProbe = 2,
        k = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  val q76Sql: String =
    """WITH x AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding,1) AS pos FROM embeddings),
      |n AS (SELECT vec_id, CAST(SUM(CAST(CAST(v AS DOUBLE)*CAST(v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS sq
      |      FROM x GROUP BY vec_id),
      |cx AS (SELECT * FROM x WHERE vec_id < 16),
      |dc AS (SELECT a.vec_id AS vid, b.vec_id AS cell,
      |        CAST(SUM(CAST(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS dot
      |       FROM x a JOIN cx b ON a.pos = b.pos GROUP BY 1,2),
      |sc AS (SELECT vid, cell, dot/(sqrt(na.sq)*sqrt(nc.sq)) AS cos
      |       FROM dc JOIN n na ON dc.vid = na.vec_id JOIN n nc ON dc.cell = nc.vec_id),
      |cells AS (SELECT vid, cell FROM
      |  (SELECT vid, cell, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cell) AS rn FROM sc)
      |  WHERE rn = 1),
      |probes AS (SELECT vid AS query_id, cell FROM
      |  (SELECT vid, cell, row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cell) AS rn
      |   FROM sc WHERE vid BETWEEN 100 AND 109)
      |  WHERE rn <= 2),
      |cand AS (SELECT p.query_id, c.vid AS neighbor_id
      |         FROM probes p JOIN cells c ON p.cell = c.cell WHERE c.vid <> p.query_id),
      |dp AS (SELECT cand.query_id, cand.neighbor_id,
      |        CAST(SUM(CAST(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS dot
      |       FROM cand
      |       JOIN x a ON a.vec_id = cand.query_id
      |       JOIN x b ON b.vec_id = cand.neighbor_id AND b.pos = a.pos
      |       GROUP BY 1,2),
      |scored AS (SELECT dp.query_id, dp.neighbor_id, dot/(sqrt(nq.sq)*sqrt(nn.sq)) AS cos
      |           FROM dp JOIN n nq ON dp.query_id = nq.vec_id JOIN n nn ON dp.neighbor_id = nn.vec_id)
      |SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos FROM
      |  (SELECT query_id, neighbor_id, cos,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      |   FROM scored)
      |WHERE rank <= 3
      |ORDER BY query_id NULLS FIRST, rank NULLS FIRST""".stripMargin

  /** q77 — PII redaction: emails and phone numbers (synthesized
    * deterministically per doc, since the fixture corpus carries none)
    * detected and replaced with placeholder tags; gate hashes the
    * redacted text. The scrub pass every training-data pipeline runs
    * before tokenization; pure per-row regex — shuffle-free.
    */
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\+1-555-[0-9]{4}"

  val q77PiiRedact: Q = (s, d) => {
    val aug = concat(
      col("text"),
      lit(" contact user"),
      col("doc_id").cast("string"),
      lit("@mail.example.com or +1-555-"),
      lpad(col("doc_id").cast("string"), 4, "0"))
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        size(regexp_extract_all(aug, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(aug, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(aug, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")).as("red_md5"))
      .orderBy(col("doc_id"))
  }

  val q77Sql: String =
    """WITH a AS (SELECT doc_id,
      |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or +1-555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS aug
      | FROM documents)
      |SELECT doc_id,
      | CAST(len(regexp_extract_all(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
      | CAST(len(regexp_extract_all(aug, '\+1-555-[0-9]{4}')) AS BIGINT) AS n_phones,
      | md5(regexp_replace(regexp_replace(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'), '\+1-555-[0-9]{4}', '<PHONE>', 'g')) AS red_md5
      |FROM a ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q78 — corpus bigram heavy hitters (vocabulary-induction merge
    * candidates): count every word-bigram occurrence across the corpus,
    * top 20. One explode + one count shuffle + TakeOrdered — the
    * canonical frequency-statistics shape at any corpus size.
    */
  val q78BigramTop: Q = (s, d) =>
    Tables
      .documents(s, d)
      .select(explode(Dedup.wordNGramsAll(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(20)

  val q78Sql: String =
    """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT unnest([ws[i]||' '||ws[i+1] for i in range(1, CAST(len(ws) AS BIGINT))]) AS bigram FROM w)
      |SELECT bigram, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM g GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin

  /** q79 — winnowing fingerprints (k=5 char-grams, window w=4): the
    * substring-robust local fingerprint set per document, surfaced as
    * count + md5 of the sorted fingerprint list so the gate pins every
    * fingerprint value without megabyte rows.
    */
  val q79Winnow: Q = (s, d) =>
    Dedup
      // spread the md5-per-char-gram pass beyond the single input split
      .winnowFingerprints(
        Relational.spreadFewSplits(Tables.documents(s, d), "doc_id"),
        "text", 5, 4, "fps")
      .select(
        col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        // NULL, not md5(''), when a document is too short to fingerprint:
        // the oracle's list comprehension yields NULL there (DuckDB
        // array_to_string of an empty list is NULL) — md5-of-nothing is
        // not a meaningful fingerprint digest on either engine.
        when(size(col("fps")) > 0,
          md5(array_join(transform(col("fps"), _.cast("string")), ","))).as("fp_md5"))
      .orderBy(col("doc_id"))

  val q79Sql: String =
    s"""WITH g AS (SELECT doc_id,
      |  [substr(${CoreQueries.foldSql("text")}, i, 5) for i in range(1, CAST(length(text)-3 AS BIGINT))] AS gs
      | FROM documents),
      |h AS (SELECT doc_id, list_transform(gs, t -> CAST('0x'||substr(md5(t),1,8) AS BIGINT)) AS hs FROM g),
      |m AS (SELECT doc_id, [list_min(hs[j:j+3]) for j in range(1, CAST(len(hs)-2 AS BIGINT))] AS mins FROM h),
      |f AS (SELECT doc_id, list_sort(list_distinct(mins)) AS fps FROM m)
      |SELECT doc_id, COALESCE(CAST(len(fps) AS BIGINT), 0) AS n_fp, md5(array_to_string(fps, ',')) AS fp_md5
      |FROM f ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q80 — winnowing near-dup candidates: pairs of documents sharing
    * rare winnowing fingerprints (df ≤ 10), with shared counts — the
    * substring-level candidate generator that complements MinHash
    * (set-level, q20) and SimHash (token-vote, q21). Equi-join on
    * fingerprint, bucket size bounded by the rarity filter.
    */
  val q80WinnowPairs: Q = (s, d) =>
    Dedup
      .winnowCandidatePairs(Tables.documents(s, d), "doc_id", "text", k = 5, w = 4, maxDocFreq = 10)
      .orderBy(col("doc_a"), col("doc_b"))

  val q80Sql: String =
    s"""WITH g AS (SELECT doc_id,
      |  [substr(${CoreQueries.foldSql("text")}, i, 5) for i in range(1, CAST(length(text)-3 AS BIGINT))] AS gs
      | FROM documents),
      |h AS (SELECT doc_id, list_transform(gs, t -> CAST('0x'||substr(md5(t),1,8) AS BIGINT)) AS hs FROM g),
      |m AS (SELECT doc_id, [list_min(hs[j:j+3]) for j in range(1, CAST(len(hs)-2 AS BIGINT))] AS mins FROM h),
      |f AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM m),
      |rare AS (SELECT fp FROM f GROUP BY fp HAVING count(*) <= 10),
      |rf AS (SELECT doc_id, fp FROM f JOIN rare USING (fp))
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
      |FROM rf a JOIN rf b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""".stripMargin

  /** q81 — cohort retention: users grouped by the week of their first
    * event; n distinct active users per (cohort week, age-in-weeks).
    * Day/week math on integer epoch microseconds (`ts_us div …`) —
    * never raw timestamps, whose binary forms differ across engines.
    * Two shuffles (per-user min, then the matrix aggregation) — the
    * canonical retention-matrix shape at any event volume.
    */
  val q81CohortRetention: Q = (s, d) => {
    val usPerDay = 86400000000L
    val ev = Tables
      .events(s, d)
      .select(col("user_id"), expr(s"ts_us div $usPerDay").as("day"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cd"))
    ev.join(cohort, Seq("user_id"))
      .select(
        col("user_id"),
        expr("cd div 7").as("cohort_week"),
        (expr("day div 7") - expr("cd div 7")).as("age_week"))
      .groupBy(col("cohort_week"), col("age_week"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("age_week"))
  }

  val q81Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (SELECT user_id, MIN(day) AS cd FROM e GROUP BY 1)
      |SELECT (cd // 7) AS cohort_week, (day // 7) - (cd // 7) AS age_week,
      | CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
      |FROM e JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_week NULLS FIRST, age_week NULLS FIRST""".stripMargin

  /** q82 — ordered funnel (signup → view → purchase): stage k counts
    * users whose k-th step happened at-or-after their (k−1)-th. Each
    * stage is a per-user min over a filtered event set joined to the
    * previous stage — per-user aggregates are tiny, so the stage joins
    * broadcast; event scans stay filter-pushed.
    */
  val q82Funnel: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts_us"))
    val t1 = ev
      .filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("t1"))
    val t2 = ev
      .filter(col("event_type") === "view")
      .join(t1, Seq("user_id"))
      .filter(col("ts_us") >= col("t1"))
      .groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("t2"))
    val t3 = ev
      .filter(col("event_type") === "purchase")
      .join(t2, Seq("user_id"))
      .filter(col("ts_us") >= col("t2"))
      .groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("t3"))
    def stageCount(df: org.apache.spark.sql.DataFrame, stage: Int) =
      df.agg(count(lit(1)).as("n_users")).select(lit(stage.toLong).as("stage"), col("n_users"))
    stageCount(t1, 1).unionByName(stageCount(t2, 2)).unionByName(stageCount(t3, 3)).orderBy(col("stage"))
  }

  val q82Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events),
      |t1 AS (SELECT user_id, MIN(tu) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
      |t2 AS (SELECT e.user_id, MIN(tu) AS t2 FROM e JOIN t1 USING (user_id)
      |       WHERE event_type = 'view' AND tu >= t1 GROUP BY 1),
      |t3 AS (SELECT e.user_id, MIN(tu) AS t3 FROM e JOIN t2 USING (user_id)
      |       WHERE event_type = 'purchase' AND tu >= t2 GROUP BY 1)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS stage, CAST((SELECT COUNT(*) FROM t1) AS BIGINT) AS n_users
      |  UNION ALL SELECT CAST(2 AS BIGINT), CAST((SELECT COUNT(*) FROM t2) AS BIGINT)
      |  UNION ALL SELECT CAST(3 AS BIGINT), CAST((SELECT COUNT(*) FROM t3) AS BIGINT))
      |ORDER BY stage NULLS FIRST""".stripMargin

  /** q83 — SCD Type 2 versioning: the events stream treated as a
    * change log of each user's `value`; every change becomes a
    * [valid_from, valid_to) version, latest flagged current. Ties on
    * the timestamp break by event_id so version boundaries are
    * deterministic.
    */
  val q83Scd2: Q = (s, d) =>
    Relational
      .scd2FromChangeLog(
        Tables
          .events(s, d)
          // a change event without a time cannot open a version
          // interval (and NULL orders oppositely across engines —
          // round-10 NULL-event-time fuzz probe)
          .filter(col("ts_us").isNotNull)
          .select(col("user_id"), col("event_id"), col("ts_us"), col("value")),
        keyCol = "user_id",
        tsCol = "ts_us",
        tieBreakCol = "event_id")
      .select(
        col("user_id"),
        col("event_id"),
        col("valid_from"),
        col("valid_to"),
        col("value"),
        col("is_current"))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))

  val q83Sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tu, value FROM events WHERE ts IS NOT NULL)
      |SELECT user_id, event_id, tu AS valid_from,
      | LEAD(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS valid_to,
      | value,
      | (LEAD(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) IS NULL) AS is_current
      |FROM e ORDER BY user_id NULLS FIRST, valid_from NULLS FIRST, event_id NULLS FIRST""".stripMargin

  /** q84 — deterministic train/val/test split: md5-hash each doc id
    * into a split (90/5/5), report per-(split, lang) counts. Hash
    * splitting is the only assignment that survives re-runs, late
    * data, and re-partitioning — a random() split changes membership
    * every run and leaks val into train. Shares the oracle's md5
    * primitive; shuffle-free until the tiny count aggregation.
    */
  val q84HashSplit: Q = (s, d) => {
    val bucket = graft.functions.Hashing.h60(concat(lit("split:"), col("doc_id"))) % 100
    // Raw scan: one hash per doc then a tiny aggregate — the corpus
    // spread's exchange is overhead, not parallelism, here.
    Tables
      .table(s, d, "documents")
      .select(
        when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").as("split"),
        col("lang"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"), col("lang"))
  }

  val q84Sql: String =
    """WITH b AS (SELECT lang,
      |  CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 100 AS bk
      | FROM documents)
      |SELECT CASE WHEN bk < 90 THEN 'train' WHEN bk < 95 THEN 'val' ELSE 'test' END AS split,
      | lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM b GROUP BY 1, 2 ORDER BY split NULLS FIRST, lang NULLS FIRST""".stripMargin

  /** q85 — sequence packing (context-window budgeting): documents in
    * deterministic order are packed into consecutive bins of ≤ 512
    * whitespace tokens via running-sum div budget — the streaming
    * variant of greedy packing every pretraining pipeline runs.
    * Packing needs a total order, so at scale it runs per SHARD
    * (doc_id div 100 here): each shard packs independently inside one
    * window partition — embarrassingly parallel, no global sort.
    */
  val q85SeqPack: Q = (s, d) =>
    // Raw scan: one window + one agg over cheap per-row token counts —
    // the corpus spread's exchange is overhead, not parallelism, here
    // (the window repartitions on shard anyway).
    Tables
      .table(s, d, "documents")
      .select(
        col("doc_id"),
        expr("doc_id div 100").as("shard"),
        TextAnalysis.wsTokenCount(col("text")).as("n_tok"))
      .withColumn("pack_id", expr("(sum(n_tok) over (partition by shard order by doc_id rows between unbounded preceding and current row) - n_tok) div 512"))
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("shard"), col("pack_id"))

  val q85Sql: String =
    """WITH t AS (SELECT doc_id, doc_id // 100 AS shard,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      | FROM documents),
      |p AS (SELECT shard, doc_id, n_tok,
      |  (SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) // 512 AS pack_id
      | FROM t)
      |SELECT shard, CAST(pack_id AS BIGINT) AS pack_id, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      |FROM p GROUP BY 1, 2 ORDER BY shard NULLS FIRST, pack_id NULLS FIRST""".stripMargin

  /** q86 — stratified exact-N sampling: the 20 hash-smallest documents
    * per language (md5 order = deterministic uniform draw, ties by
    * id). Complements q55's fraction sampling when each stratum needs
    * an exact quota; one window per stratum, no RNG, rerun-stable.
    */
  val q86Stratified: Q = (s, d) => {
    val h = graft.functions.Hashing.h60(concat(lit("strat:"), col("doc_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("hv"), col("doc_id"))
    // Raw scan: one hash per doc before the per-stratum window — the
    // corpus spread's exchange is overhead, not parallelism, here.
    Tables
      .table(s, d, "documents")
      .select(col("lang"), col("doc_id"), h.as("hv"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 20)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy(col("lang"), col("rk"))
  }

  val q86Sql: String =
    """WITH b AS (SELECT lang, doc_id,
      |  CAST('0x'||substr(md5('strat:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) AS hv
      | FROM documents),
      |r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rk FROM b)
      |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id
      |FROM r WHERE rk <= 20 ORDER BY lang NULLS FIRST, rk NULLS FIRST""".stripMargin

  /** q87 — train/test CONTAMINATION check: distinct word-4-grams
    * shared between any (test doc, train doc) pair across the q84 hash
    * split — the n-gram-overlap decontamination pass every evaluation
    * pipeline runs before trusting its benchmarks. Candidate
    * generation is the gram equi-join (LSH shape; n-grams long enough
    * to be rare, so buckets stay tiny at corpus scale).
    */
  val q87Contamination: Q = (s, d) => {
    val bucket = graft.functions.Hashing.h60(concat(lit("split:"), col("doc_id"))) % 100
    val grams = Tables
      .documents(s, d)
      .select(col("doc_id"), bucket.as("bk"), explode(Dedup.wordNGrams(col("text"), 4)).as("gram"))
    val train = grams.filter(col("bk") < 90).select(col("doc_id").as("train_doc"), col("gram"))
    val test = grams.filter(col("bk") >= 95).select(col("doc_id").as("test_doc"), col("gram"))
    test
      .join(train, "gram")
      .groupBy(col("test_doc"), col("train_doc"))
      .agg(count(lit(1)).as("shared"))
      .orderBy(col("test_doc"), col("train_doc"))
  }

  val q87Sql: String =
    """WITH b AS (SELECT doc_id, text,
      |  CAST('0x'||substr(md5('split:'||CAST(doc_id AS VARCHAR)),1,15) AS BIGINT) % 100 AS bk
      | FROM documents),
      |w AS (SELECT doc_id, bk, string_split(text, ' ') AS ws FROM b),
      |g AS (SELECT doc_id, bk,
      |  unnest(list_distinct([ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3] for i in range(1, CAST(len(ws)-2 AS BIGINT))])) AS gram
      | FROM w),
      |tr AS (SELECT doc_id, gram FROM g WHERE bk < 90),
      |te AS (SELECT doc_id, gram FROM g WHERE bk >= 95)
      |SELECT te.doc_id AS test_doc, tr.doc_id AS train_doc, CAST(count(*) AS BIGINT) AS shared
      |FROM te JOIN tr USING (gram)
      |GROUP BY 1, 2 ORDER BY test_doc NULLS FIRST, train_doc NULLS FIRST""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q75_edge_text", q75EdgeText, q75Sql),
    Query("q76_ivf_ann", q76IvfAnn, q76Sql),
    Query("q77_pii_redact", q77PiiRedact, q77Sql),
    Query("q78_bigram_top", q78BigramTop, q78Sql),
    Query("q79_winnow", q79Winnow, q79Sql),
    Query("q80_winnow_pairs", q80WinnowPairs, q80Sql),
    Query("q81_cohort_retention", q81CohortRetention, q81Sql),
    Query("q82_funnel", q82Funnel, q82Sql),
    Query("q83_scd2", q83Scd2, q83Sql),
    Query("q84_hash_split", q84HashSplit, q84Sql),
    Query("q85_seq_pack", q85SeqPack, q85Sql),
    Query("q86_stratified_sample", q86Stratified, q86Sql),
    Query("q87_contamination", q87Contamination, q87Sql))
}
