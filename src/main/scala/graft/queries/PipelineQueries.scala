package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Scalars.{dec4, sumDec}
import graft.operators.{Dedup, Multimodal, Relational, Similarity, TextAnalysis}
import graft.queries.CoreQueries.Q

/** LLM-data-pipeline operator catalog (dedup, similarity search, text
  * analysis, multimodal metadata) — the green-field surface beyond the
  * reference (SURVEY.md §2.11), each query hash-verified against a
  * DuckDB oracle.
  *
  * Determinism contract: all hashing is md5-derived
  * ([[graft.functions.Hashing]]), all float aggregation goes through
  * DECIMAL(28,10), all double arithmetic is written identically in both
  * engines, and every query ends in a total ORDER BY.
  *
  * Input bounds (doc_id / vec_id cutoffs) keep the intentionally
  * quadratic verification paths (exact Jaccard / cosine on candidate
  * pairs) fixed-size across scale factors; the LSH candidate-generation
  * stages themselves run over the full tables and scale linearly.
  */
object PipelineQueries {

  // ---------------------------------------------------------------- dedup

  /** q19 — exact dedup by full-content hash: keep-first semantics
    * (min doc_id per md5 group). One uniform shuffle on the hash.
    */
  val q19ExactDedup: Q = (s, d) =>
    // Raw scan: one md5 per doc then a uniform hash shuffle — the
    // corpus spread's exchange is overhead, not parallelism, here.
    Dedup
      .exactDedup(Tables.table(s, d, "documents"), "doc_id", "text")
      .orderBy(col("text_md5"))

  val q19Sql: String =
    """SELECT md5(text) AS text_md5, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text)
      |ORDER BY text_md5 NULLS FIRST""".stripMargin

  private val MinHashK = 12
  private val MinHashBands = 3

  /** q20 — MinHash + LSH near-dup candidates over char-5-gram shingles:
    * 12-hash signature, 3 bands × 4 rows, candidates verified with both
    * the signature estimate and exact Jaccard.
    */
  val q20MinHashLsh: Q = (s, d) => {
    // spread: the k·md5-per-shingle pass must not serialize on a
    // single input split (Relational.spreadFewSplits is the identity
    // on any real multi-split table)
    val docs = Relational.spreadFewSplits(
      Tables.documents(s, d).filter(col("doc_id") < 1000), "doc_id")
    // Shingles hashed to 32-bit longs ONCE (one native
    // graft_gram_hashes pass; h32 is the same base hash the signature
    // folds); the exact-Jaccard verify consumes the long arrays,
    // shipping ~5× fewer bytes than raw 5-char strings. Set Jaccard
    // is invariant under the hash and the oracle mirrors it.
    val shingled = docs.select(
      col("doc_id"),
      Dedup.shingleHashes(col("text"), 5).as("hs"))
    // The signature plan (shingle + k·affine-min per doc) feeds FOUR
    // consumers (both sides of the LSH self-join, both est-jaccard
    // probes). Persist the compact signature table — id + k longs, the
    // hashes dropped — so the expensive pass runs once; at 100 TB
    // this is the difference between one and four scans of the corpus.
    // The cheap hashed-shingle arrays are recomputed only for the
    // verify joins.
    val sig = Dedup
      .minHashSignatureFromHashes(shingled, "doc_id", "hs", MinHashK)
      .drop("hs")
      .persist()
    val cands = Dedup.lshCandidates(sig, "doc_id", MinHashK, MinHashBands)
    val aSig = sig.select(
      col("doc_id").as("id_a") +: (0 until MinHashK).map(j => col(s"mh$j").as(s"a_mh$j")): _*)
    val bSig = sig.select(
      col("doc_id").as("id_b") +: (0 until MinHashK).map(j => col(s"mh$j").as(s"b_mh$j")): _*)
    val estMatches = (0 until MinHashK)
      .map(j => when(col(s"a_mh$j") === col(s"b_mh$j"), 1).otherwise(0))
      .reduce(_ + _)
    cands
      .join(aSig, "id_a")
      .join(bSig, "id_b")
      .join(shingled.select(col("doc_id").as("id_a"), col("hs").as("sh_a")), "id_a")
      .join(shingled.select(col("doc_id").as("id_b"), col("hs").as("sh_b")), "id_b")
      .select(
        col("id_a").as("doc_a"),
        col("id_b").as("doc_b"),
        (estMatches / lit(MinHashK.toDouble)).as("est_jaccard"),
        Dedup.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q20Sql: String = {
    val mhDefs = (0 until MinHashK)
      .map(j =>
        s" list_min(list_transform(hs, h -> (h * ${2L * j + 3} + ${5L * j + 7}) % ${graft.functions.Hashing.AffineP})) AS mh$j")
      .mkString(",\n")
    val rpb = MinHashK / MinHashBands
    val bandCase = "CASE band " + (0 until MinHashBands)
      .map { b =>
        val cat = (b * rpb until (b + 1) * rpb).map(j => s"mh$j").mkString("||'_'||")
        if (b == MinHashBands - 1) s"ELSE md5($cat) END" else s"WHEN $b THEN md5($cat) "
      }
      .mkString
    val estSum = (0 until MinHashK)
      .map(j => s"CASE WHEN x.mh$j = y.mh$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, list_distinct([substr(${CoreQueries.foldSql("text")}, i, 5) for i in range(1, len(text)-3)]) AS sh
       |           FROM documents WHERE doc_id < 1000),
       |dh AS (SELECT doc_id, list_distinct(list_transform(sh, t -> CAST('0x'||substr(md5(t),1,8) AS BIGINT))) AS hs FROM d),
       |s AS (SELECT doc_id, hs,
       |$mhDefs
       | FROM dh),
       |b AS (SELECT doc_id, band, $bandCase AS bv
       |      FROM s CROSS JOIN (SELECT unnest(range($MinHashBands)) AS band)),
       |p AS (SELECT DISTINCT a.doc_id AS da, c.doc_id AS db
       |      FROM b a JOIN b c ON a.band = c.band AND a.bv = c.bv AND a.doc_id < c.doc_id)
       |SELECT p.da AS doc_a, p.db AS doc_b,
       | ($estSum) / ${MinHashK}.0 AS est_jaccard,
       | 1.0*len(list_intersect(x.hs, y.hs))/len(list_distinct(x.hs||y.hs)) AS jaccard
       |FROM p JOIN s x ON p.da = x.doc_id JOIN s y ON p.db = y.doc_id
       |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""".stripMargin
  }

  /** q21 — SimHash near-dup pairs: 48-bit token-weighted fingerprints,
    * pairs within Hamming distance 3.
    */
  val q21SimHash: Q = (s, d) => {
    // Both sides of the Hamming self-join consume the fingerprint plan
    // (token explode → two aggregations) — persist the tiny (id, long)
    // result so it computes once.
    val sh = Dedup.simHash(
      Tables.documents(s, d).filter(col("doc_id") < 1000),
      "doc_id",
      "text",
      48)
      .persist()
    Dedup
      .simHashPairs(sh, "doc_id", 3)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val q21Sql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok
      |           FROM documents WHERE doc_id < 1000),
      |h AS (SELECT doc_id, CAST('0x'||substr(md5(tok),1,12) AS BIGINT) AS hv FROM t),
      |bits AS (SELECT doc_id, b, SUM(CASE WHEN (hv >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |         FROM h CROSS JOIN (SELECT unnest(range(48)) AS b) GROUP BY doc_id, b),
      |sh AS (SELECT doc_id, SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS simhash
      |       FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
      | CAST(bit_count(xor(a.simhash, c.simhash)) AS BIGINT) AS hamming
      |FROM sh a JOIN sh c ON a.doc_id < c.doc_id
      |WHERE bit_count(xor(a.simhash, c.simhash)) <= 3
      |ORDER BY doc_a NULLS FIRST, doc_b NULLS FIRST""".stripMargin

  /** q22 — word-3-gram Jaccard: top-50 most similar pairs among a
    * bounded doc set (brute force — the exact counterpart the LSH
    * variants approximate).
    */
  val q22NgramJaccard: Q = (s, d) => {
    val g = Tables
      .documents(s, d)
      .filter(col("doc_id") < 60)
      .select(col("doc_id"), Dedup.wordNGrams(col("text"), 3).as("gs"))
    val a = g.select(col("doc_id").as("doc_a"), col("gs").as("g_a"))
    val b = g.select(col("doc_id").as("doc_b"), col("gs").as("g_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), Dedup.jaccard(col("g_a"), col("g_b")).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(50)
  }

  val q22Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents WHERE doc_id < 60),
      |g AS (SELECT doc_id, list_distinct([ws[i]||' '||ws[i+1]||' '||ws[i+2] for i in range(1, len(ws)-1)]) AS gs FROM d)
      |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
      | 1.0*len(list_intersect(a.gs, c.gs))/len(list_distinct(a.gs||c.gs)) AS jaccard
      |FROM g a JOIN g c ON a.doc_id < c.doc_id
      |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 50""".stripMargin

  // ----------------------------------------------------------- similarity

  private val sqlSqNorm =
    """n AS (SELECT vec_id, CAST(SUM(CAST(CAST(v AS DOUBLE)*CAST(v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS sq
      |      FROM x GROUP BY vec_id)""".stripMargin

  /** q23 — embedding near-duplicate pairs: exact decimal cosine ≥ 0.35
    * over a bounded vector set.
    */
  val q23EmbedNearDup: Q = (s, d) =>
    Similarity
      .nearDupPairs(
        Tables.embeddings(s, d).filter(col("vec_id") < 150),
        "vec_id",
        "embedding",
        0.35)
      .orderBy(col("vec_a"), col("vec_b"))

  val q23Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150),
       |x AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding,1) AS pos FROM e),
       |$sqlSqNorm,
       |dp AS (SELECT a.vec_id AS va, b.vec_id AS vb,
       |        CAST(SUM(CAST(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS dot
       |       FROM x a JOIN x b ON a.pos = b.pos AND a.vec_id < b.vec_id GROUP BY 1, 2)
       |SELECT va AS vec_a, vb AS vec_b, dot/(sqrt(na.sq)*sqrt(nb.sq)) AS cos
       |FROM dp JOIN n na ON dp.va = na.vec_id JOIN n nb ON dp.vb = nb.vec_id
       |WHERE dot/(sqrt(na.sq)*sqrt(nb.sq)) >= 0.35
       |ORDER BY vec_a NULLS FIRST, vec_b NULLS FIRST""".stripMargin

  /** q24 — brute-force cosine top-10 for 10 query vectors against the
    * whole corpus (the exact ANN baseline).
    */
  val q24AnnTopK: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity
      .bruteForceTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", 10)
      .orderBy(col("query_id"), col("rank"))
  }

  val q24Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |x AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding,1) AS pos FROM e),
       |$sqlSqNorm,
       |dp AS (SELECT a.vec_id AS qa, b.vec_id AS nb,
       |        CAST(SUM(CAST(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS dot
       |       FROM x a JOIN x b ON a.pos = b.pos AND a.vec_id < 10 AND a.vec_id <> b.vec_id
       |       GROUP BY 1, 2),
       |sc AS (SELECT qa AS query_id, nb AS neighbor_id, dot/(sqrt(n1.sq)*sqrt(n2.sq)) AS cos
       |       FROM dp JOIN n n1 ON dp.qa = n1.vec_id JOIN n n2 ON dp.nb = n2.vec_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |      FROM sc)
       |SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 10
       |ORDER BY query_id NULLS FIRST, rank NULLS FIRST""".stripMargin

  /** q25 — SRP-LSH bucketed ANN: 8 signed-random-projection bits bucket
    * the corpus; 20 query vectors take their top-3 bucket-mates by
    * exact cosine. The approximate scale path of q24.
    */
  val q25AnnLsh: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity
      .srpAnnTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", 8, 64, 3)
      .orderBy(col("query_id"), col("rank"))
  }

  val q25Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |x AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding,1) - 1 AS pos FROM e),
       |$sqlSqNorm,
       |w AS (SELECT vec_id, j,
       |       SUM(CASE WHEN CAST('0x'||substr(md5('srp_'||j||'_'||pos),1,15) AS BIGINT) % 2 = 0
       |                THEN CAST(CAST(v AS DOUBLE) AS DECIMAL(28,10))
       |                ELSE CAST(-CAST(v AS DOUBLE) AS DECIMAL(28,10)) END) AS sgn
       |      FROM x CROSS JOIN (SELECT unnest(range(8)) AS j) GROUP BY vec_id, j),
       |bk AS (SELECT vec_id, SUM(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS bucket
       |       FROM w GROUP BY vec_id),
       |cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |         FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |         WHERE q.vec_id < 20),
       |dp AS (SELECT a.vec_id AS qa, b.vec_id AS nb,
       |        CAST(SUM(CAST(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS dot
       |       FROM cand JOIN x a ON cand.query_id = a.vec_id JOIN x b ON cand.neighbor_id = b.vec_id AND a.pos = b.pos
       |       GROUP BY 1, 2),
       |sc AS (SELECT qa AS query_id, nb AS neighbor_id, dot/(sqrt(n1.sq)*sqrt(n2.sq)) AS cos
       |       FROM dp JOIN n n1 ON dp.qa = n1.vec_id JOIN n n2 ON dp.nb = n2.vec_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
       |      FROM sc)
       |SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 3
       |ORDER BY query_id NULLS FIRST, rank NULLS FIRST""".stripMargin

  // -------------------------------------------------------- text analysis

  private def inList(vocab: Seq[String]): String =
    vocab.map(v => s"'$v'").mkString("(", ", ", ")")

  /** q26 — language ID: CJK codepoint count + per-language marker-word
    * hits, argmax with a fixed tie order.
    */
  val q26LangId: Q = (s, d) => {
    import TextAnalysis._
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        col("lang"),
        cjkCount(col("text")).as("cjk"),
        markerHits(col("text"), markers("de")).as("s_de"),
        markerHits(col("text"), markers("en")).as("s_en"),
        markerHits(col("text"), markers("es")).as("s_es"),
        markerHits(col("text"), markers("fr")).as("s_fr"))
      .withColumn(
        "predicted",
        predictLang(col("cjk"), col("s_de"), col("s_en"), col("s_es"), col("s_fr")))
      .orderBy(col("doc_id"))
  }

  val q26Sql: String = {
    val m = TextAnalysis.markers
    s"""SELECT doc_id, lang, cjk, s_de, s_en, s_es, s_fr,
       | CASE WHEN cjk > 0 THEN 'zh'
       |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
       |      WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
       |      WHEN s_es >= s_fr THEN 'es'
       |      ELSE 'fr' END AS predicted
       |FROM (SELECT doc_id, lang,
       |  CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS BIGINT) AS cjk,
       |  CAST(len(list_filter(string_split(text,' '), t -> t IN ${inList(m("de"))})) AS BIGINT) AS s_de,
       |  CAST(len(list_filter(string_split(text,' '), t -> t IN ${inList(m("en"))})) AS BIGINT) AS s_en,
       |  CAST(len(list_filter(string_split(text,' '), t -> t IN ${inList(m("es"))})) AS BIGINT) AS s_es,
       |  CAST(len(list_filter(string_split(text,' '), t -> t IN ${inList(m("fr"))})) AS BIGINT) AS s_fr
       | FROM documents)
       |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  /** q27 — document quality scoring: alpha ratio, token budget,
    * stopword ratio → composite score + pass flag.
    */
  val q27Quality: Q = (s, d) => {
    import TextAnalysis._
    Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        wsTokenCount(col("text")).as("n_tokens"),
        alphaCount(col("text")).as("n_alpha"),
        markerHits(col("text"), markers("en")).as("n_stop"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        // Empty documents: alpha ratio 0.0, not a 0/0 crash — ANSI
        // Spark THROWS on double /0 where DuckDB yields NULL (caught
        // by the adversarial-fixture run); try_divide+coalesce is the
        // shared "no content scores zero" semantic on both engines,
        // keeping the score NULL-free for the q124/q125 consumers.
        coalesce(
          expr("try_divide(CAST(n_alpha AS DOUBLE), CAST(n_chars_m AS DOUBLE))"),
          lit(0.0)).as("alpha_ratio"),
        (col("n_stop").cast("double") / col("n_tokens").cast("double")).as("stop_ratio"))
      .withColumn(
        "score",
        qualityScore(col("alpha_ratio"), col("n_tokens"), col("stop_ratio")))
      .withColumn("pass", col("score") >= lit(0.6))
      .orderBy(col("doc_id"))
  }

  val q27Sql: String = {
    val stop = inList(TextAnalysis.markers("en"))
    s"""SELECT doc_id, n_tokens, alpha_ratio, stop_ratio,
       | 0.4*alpha_ratio + 0.3*least(1.0, CAST(n_tokens AS DOUBLE)/100.0) + 0.3*(1.0 - stop_ratio) AS score,
       | (0.4*alpha_ratio + 0.3*least(1.0, CAST(n_tokens AS DOUBLE)/100.0) + 0.3*(1.0 - stop_ratio)) >= 0.6 AS pass
       |FROM (SELECT doc_id,
       |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
       |  COALESCE(CAST(len(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)/CAST(len(text) AS DOUBLE), 0.0) AS alpha_ratio,
       |  CAST(len(list_filter(string_split(text,' '), t -> t IN $stop)) AS DOUBLE)
       |    / CAST(len(string_split(text,' ')) AS DOUBLE) AS stop_ratio
       | FROM documents)
       |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  /** q28 — token counting rolled up by language: whitespace tokens vs
    * BPE-ish regex tokens vs characters.
    */
  val q28TokenCounts: Q = (s, d) => {
    import TextAnalysis._
    Tables
      .documents(s, d)
      .select(
        col("lang"),
        wsTokenCount(col("text")).as("ws"),
        regexTokenCount(col("text")).as("rx"),
        length(col("text")).cast("long").as("nc"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("sum_ws_tokens"),
        sum(col("rx")).as("sum_rx_tokens"),
        sum(col("nc")).as("sum_chars"),
        (sum(col("rx")).cast("double") / count(lit(1))).as("avg_rx_tokens"))
      .orderBy(col("lang"))
  }

  val q28Sql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      | CAST(SUM(ws) AS BIGINT) AS sum_ws_tokens, CAST(SUM(rx) AS BIGINT) AS sum_rx_tokens,
      | CAST(SUM(nc) AS BIGINT) AS sum_chars,
      | CAST(SUM(rx) AS DOUBLE)/COUNT(*) AS avg_rx_tokens
      |FROM (SELECT lang,
      |  CAST(len(string_split(text,' ')) AS BIGINT) AS ws,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS rx,
      |  CAST(len(text) AS BIGINT) AS nc
      | FROM documents)
      |GROUP BY lang
      |ORDER BY lang NULLS FIRST""".stripMargin

  /** q29 — order-insensitive fingerprint dedup: groups of documents
    * sharing a sorted-distinct-token md5 (the dup clusters the fixture
    * corpus actually contains).
    */
  val q29Fingerprint: Q = (s, d) =>
    // Raw scan: one sort+md5 per doc is cheap per-row work (0.32 s
    // pre-spread ledger) — the corpus spread's exchange is overhead,
    // not parallelism, here.
    Tables
      .table(s, d, "documents")
      .select(col("doc_id"), Dedup.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("fp"))

  val q29Sql: String =
    """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp,
      | COUNT(*) AS n_docs, MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM documents
      |GROUP BY 1 HAVING COUNT(*) > 1
      |ORDER BY fp NULLS FIRST""".stripMargin

  // ----------------------------------------------------------- multimodal

  /** q30 — multimodal metadata extraction: the relational face of the
    * binary-payload pipeline (byte length, content hash, derived
    * dimensions) — the part of [[Multimodal]] the oracle can verify.
    */
  val q30MultimodalMeta: Q = (s, d) =>
    // Raw scan: 200-row metadata slice, no heavy per-row compute —
    // the corpus spread's exchange is pure overhead here.
    Multimodal
      .attachPayload(Tables.table(s, d, "documents").filter(col("doc_id") < 200), "doc_id", "text")
      .select(
        col("docId").as("doc_id"),
        col("meta.byteLen").as("byte_len"),
        col("meta.contentHash").as("content_hash"),
        col("meta.width").cast("long").as("width"),
        col("meta.height").cast("long").as("height"),
        col("meta.nFrames").cast("long").as("n_frames"))
      .orderBy(col("doc_id"))

  val q30Sql: String =
    """SELECT doc_id,
      | CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      | md5(text) AS content_hash,
      | CAST(octet_length(encode(text)) % 64 + 16 AS BIGINT) AS width,
      | CAST((octet_length(encode(text)) // 64) % 64 + 16 AS BIGINT) AS height,
      | CAST(octet_length(encode(text)) % 7 + 1 AS BIGINT) AS n_frames
      |FROM documents WHERE doc_id < 200
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  // ------------------------------------------------------------- temporal

  /** q31 — backward as-of join: each click event picks up the latest
    * preceding view event of the same user (union + one window — the
    * single-shuffle as-of shape). Oracle: DuckDB's native ASOF JOIN.
    */
  val q31AsOfJoin: Q = (s, d) => {
    val e = Tables
      .events(s, d)
      // an event without a time can neither precede nor follow — and
      // the engines order NULLs oppositely, so an unfiltered NULL ts
      // becomes a phantom as-of match on one side only (round-10
      // NULL-event-time fuzz probe)
      .filter(col("ts_us").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("event_type"))
    val clicks = e
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts_us").as("click_us"))
    val views = e
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts_us").as("view_us"))
    Relational
      .asOfJoinBackward(clicks, views, Seq("user_id"), "click_us", "view_us", Seq("view_id"))
      .select(
        col("click_id"),
        col("user_id"),
        col("click_us"),
        col("asof_view_id").as("view_id"),
        col("asof_view_us").as("view_us"),
        (col("click_us") - col("asof_view_us")).as("gap_us"))
      .orderBy(col("click_id"))
  }

  val q31Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events WHERE ts IS NOT NULL),
      |c AS (SELECT event_id AS click_id, user_id, us AS click_us FROM e WHERE event_type = 'click'),
      |v AS (SELECT event_id AS view_id, user_id, us AS view_us FROM e WHERE event_type = 'view')
      |SELECT c.click_id, c.user_id, c.click_us, v.view_id, v.view_us,
      | c.click_us - v.view_us AS gap_us
      |FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.click_us >= v.view_us
      |ORDER BY click_id NULLS FIRST""".stripMargin

  /** q32 — salted two-phase aggregation: the skew-resistant groupBy
    * (hot key spread over 16 reducers, partials merged on the true
    * key). The oracle is the PLAIN group-by — the gate proves the
    * two-phase rewrite is result-identical.
    */
  val q32SaltedAgg: Q = (s, d) =>
    Relational
      .saltedAgg(
        Tables.lineitem(s, d),
        Seq("l_returnflag"),
        salts = 16,
        partialAggs = Seq(
          sum(dec4(col("l_quantity"))).as("ps"),
          count(lit(1)).as("pn")),
        mergeAggs = Seq(
          sum(col("ps")).cast("double").as("sum_qty"),
          sum(col("pn")).as("n_items")))
      .orderBy(col("l_returnflag"))

  val q32Sql: String =
    """SELECT l_returnflag,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      | COUNT(*) AS n_items
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q19_exact_dedup", q19ExactDedup, q19Sql),
    Query("q20_minhash_lsh", q20MinHashLsh, q20Sql),
    Query("q21_simhash", q21SimHash, q21Sql),
    Query("q22_ngram_jaccard", q22NgramJaccard, q22Sql),
    Query("q23_embed_neardup", q23EmbedNearDup, q23Sql),
    Query("q24_ann_topk", q24AnnTopK, q24Sql),
    Query("q25_ann_lsh", q25AnnLsh, q25Sql),
    Query("q26_langid", q26LangId, q26Sql),
    Query("q27_quality", q27Quality, q27Sql),
    Query("q28_token_counts", q28TokenCounts, q28Sql),
    Query("q29_fingerprint", q29Fingerprint, q29Sql),
    Query("q30_multimodal_meta", q30MultimodalMeta, q30Sql),
    Query("q31_asof_join", q31AsOfJoin, q31Sql),
    Query("q32_salted_agg", q32SaltedAgg, q32Sql))
}
