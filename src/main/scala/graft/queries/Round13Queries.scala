package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Psl, UrlOps}
import graft.queries.CoreQueries.Q

/** Round-13 surface — the r12 verdict's remaining extension asks:
  *
  *  - q185 held-out classifier EVALUATION (verdict Next #8): train on
  *    the 4/5 split in-engine ([[graft.operators.ClassifierTrainer]]),
  *    score the held-out 1/5 with the trained weights, gate the
  *    confusion counts + balanced accuracy — the oracle replays train
  *    AND eval;
  *  - q186 PSL-backed registrable domains + per-domain caps (verdict
  *    Next #4): planted ccSLD / private-suffix / wildcard / exception
  *    hosts where the PSL and the last-two-labels proxy DISAGREE,
  *    capped on the PSL domain ([[graft.operators.Psl]] — both
  *    engines on the same checked-in snapshot);
  *  - q187 URL canonicalization v2 (verdict Next #5):
  *    [[graft.operators.UrlOps.normalizeUrlFull]] adds percent-
  *    encoding normalization and RFC 3986 dot-segment resolution;
  *    planted `%7E`/`%41`/`%2f`/`/./`/`/../` variants collide ONLY
  *    after canonicalization, so the dup-group gate fails if either
  *    step regresses;
  *  - q188 held-out BPE evaluation — the tokenizer's q185: train the
  *    merge table on the 4/5 split, tokenize the held-out fifth with
  *    `graft_bpe_table`, gate the per-source token budget + the q173
  *    compression metric, oracle replaying train AND apply.
  */
object Round13Queries {

  // ---- q185: train on 4/5, evaluate on the held-out 1/5 -------------

  private val Buckets = 1024
  private val Epochs = 16
  private val LrMicro = 800000L
  private val TrainWhere = "text IS NOT NULL AND (doc_id % 5) <> 0"
  private val EvalWhere = "text IS NOT NULL AND (doc_id % 5) = 0"

  /** q185 — the quality gate the r12 verdict said was missing: q177
    * trains, but nothing gated the trained weights' QUALITY in-engine.
    * Here the trainer sees only `doc_id % 5 != 0`; the held-out fifth
    * is scored with the trained weights (hard-sigmoid: positive ⟺
    * dot ≥ 0, bias-only for bigram-less docs) and the gate is the full
    * confusion table plus integer balanced accuracy (ppm, floor). The
    * oracle replays BOTH stages — the 16 training epochs as chained
    * MATERIALIZED rounds and the eval featurization/scoring — so a
    * drifted weight or a flipped prediction anywhere fails the hash.
    */
  val q185ClassifierEval: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val trainDocs = docs.filter(col("text").isNotNull && col("doc_id") % 5 =!= 0)
    val evalDocs = docs.filter(col("text").isNotNull && col("doc_id") % 5 === 0)
    val w = graft.operators.ClassifierTrainer
      .train(trainDocs, "text", "doc_id", Buckets, Epochs, LrMicro)
    // ONE eval pass; the confusion table is <= 4 rows BY CONSTRUCTION
    // (y, y_hat in {0,1}) — bounded driver bookkeeping, so deriving
    // balanced accuracy in Scala avoids re-executing the corpus-grain
    // scoring lineage for a second aggregate branch (r13 review
    // finding: the previous crossJoin ran the eval pipeline twice).
    val confRows = graft.operators.ClassifierTrainer
      .scoreDf(evalDocs, "text", "doc_id", Buckets, w)
      .withColumn("y_hat", when(col("dot") >= 0L, 1L).otherwise(0L))
      .groupBy(col("y"), col("y_hat"))
      .agg(count(lit(1)).as("n_docs"))
      .collect()
    def cell(y: Long, yh: Long): Long =
      confRows.find(r => r.getLong(0) == y && r.getLong(1) == yh).map(_.getLong(2)).getOrElse(0L)
    val (tp, fnc, tn, fp) = (cell(1, 1), cell(1, 0), cell(0, 0), cell(0, 1))
    def rate(num: Long, den: Long): Long = if (den > 0) num * 1000000L / den else 0L
    val baccPpm = (rate(tp, tp + fnc) + rate(tn, tn + fp)) / 2
    confRows.toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), baccPpm))
      .toDF("y", "y_hat", "n_docs", "bacc_ppm")
      .orderBy(col("y"), col("y_hat"))
  }

  val q185Sql: String =
    s"""WITH
      |${Round12Queries.classifierTrainCtes(Buckets, Epochs, LrMicro, TrainWhere)},
      |evsrc AS (SELECT doc_id, text, string_split(text, ' ') AS ws
      |          FROM documents WHERE $EvalWhere),
      |evlab AS (SELECT doc_id, CAST(${Round12Queries.enVerdictCaseSql} AS BIGINT) AS y
      |          FROM evsrc),
      |evg AS (SELECT doc_id,
      |               unnest([ws[i]||' '||ws[i+1] for i in range(1, CAST(len(ws) AS BIGINT))]) AS bigram
      |        FROM evsrc),
      |evcnt AS (SELECT doc_id,
      |                 CAST('0x' || substr(md5(bigram),1,8) AS BIGINT) % $Buckets AS b,
      |                 COUNT(*) AS c
      |          FROM evg GROUP BY 1, 2),
      |evnd AS (SELECT doc_id, SUM(c) AS N FROM evcnt GROUP BY 1),
      |evft AS (SELECT doc_id, b, ((c * 1000000) // N) AS x FROM evcnt JOIN evnd USING (doc_id)
      |         UNION ALL
      |         SELECT doc_id, CAST(-1 AS BIGINT), CAST(1000000 AS BIGINT) FROM evnd),
      |evdot AS (SELECT f.doc_id, SUM(w.w * f.x) AS dot
      |          FROM evft f JOIN wt$Epochs w ON w.b = f.b GROUP BY 1),
      |evsc AS (SELECT l.doc_id, l.y,
      |                COALESCE(d.dot, (SELECT w FROM wt$Epochs WHERE b = -1) * 1000000) AS dot
      |         FROM evlab l LEFT JOIN evdot d USING (doc_id)),
      |conf AS (SELECT y, CAST(CASE WHEN dot >= 0 THEN 1 ELSE 0 END AS BIGINT) AS y_hat,
      |                COUNT(*) AS n_docs
      |         FROM evsc GROUP BY 1, 2),
      |tot AS (SELECT
      |          COALESCE(SUM(CASE WHEN y = 1 AND y_hat = 1 THEN n_docs END), 0) AS tp,
      |          COALESCE(SUM(CASE WHEN y = 1 AND y_hat = 0 THEN n_docs END), 0) AS fn,
      |          COALESCE(SUM(CASE WHEN y = 0 AND y_hat = 0 THEN n_docs END), 0) AS tn,
      |          COALESCE(SUM(CASE WHEN y = 0 AND y_hat = 1 THEN n_docs END), 0) AS fp
      |        FROM conf),
      |bacc AS (SELECT CAST(
      |                 ((CASE WHEN (tp + fn) > 0 THEN ((tp * 1000000) // (tp + fn)) ELSE 0 END)
      |                + (CASE WHEN (tn + fp) > 0 THEN ((tn * 1000000) // (tn + fp)) ELSE 0 END)) // 2
      |                 AS BIGINT) AS bacc_ppm
      |         FROM tot)
      |SELECT c.y, c.y_hat, c.n_docs, b.bacc_ppm FROM conf c, bacc b
      |ORDER BY c.y, c.y_hat NULLS FIRST""".stripMargin

  // ---- q186: PSL registrable domains + per-domain caps ---------------

  /** Planted hosts where the PSL and the last-two-labels proxy
    * disagree: ccSLD sites (`.co.uk`, `.co.jp`), private-section
    * suffixes (`.github.io`), the wildcard family (`x{k}.ck` — the
    * host IS a public suffix, registrable NULL) and its exception
    * (`sub.www.ck` → `www.ck`), plus agreeing gTLD controls.
    */
  private def host186: Column = {
    val m = col("doc_id") % 6
    when(m === 0, concat(lit("shop"), (col("doc_id") % 12).cast("string"), lit(".co.uk")))
      .when(m === 1, concat(lit("www."), col("source"), lit(".github.io")))
      .when(m === 2, concat(lit("a"), (col("doc_id") % 8).cast("string"), lit(".example.com")))
      .when(
        m === 3,
        when(col("doc_id") % 12 === 3, lit("sub.www.ck"))
          .otherwise(concat(
            lit("x"),
            (call_function("div", col("doc_id"), lit(6L)) % 3).cast("string"),
            lit(".ck"))))
      .when(m === 4, concat(lit("media."), col("source"), lit(".co.jp")))
      .otherwise(concat(col("source"), lit(".com")))
  }

  private val host186Sql: String =
    """CASE CAST(doc_id % 6 AS INTEGER)
      |  WHEN 0 THEN 'shop' || CAST(doc_id % 12 AS VARCHAR) || '.co.uk'
      |  WHEN 1 THEN 'www.' || source || '.github.io'
      |  WHEN 2 THEN 'a' || CAST(doc_id % 8 AS VARCHAR) || '.example.com'
      |  WHEN 3 THEN (CASE WHEN (doc_id % 12) = 3 THEN 'sub.www.ck'
      |               ELSE 'x' || CAST((doc_id // 6) % 3 AS VARCHAR) || '.ck' END)
      |  WHEN 4 THEN 'media.' || source || '.co.jp'
      |  ELSE source || '.com'
      |END""".stripMargin

  /** q186 — q184's domain caps, PSL-backed (the r12 `.co.uk`
    * mis-grouping closed): per doc the host, the PSL registrable
    * domain, the old proxy, whether they agree, and the cap verdict
    * ranked WITHIN THE PSL DOMAIN. On the planted fixture the proxy
    * pools every `.co.uk` site into one fake domain — the gate fails
    * if the cap ever ranks on the proxy again. Shape: distinct-host
    * suffix explode → bounded-broadcast rule join → hash join back;
    * the cap is TOP-K MEMBERSHIP via the bounded-heap operator (no
    * per-domain sort — see the inline note). Both engines evaluate the
    * SAME snapshot (the oracle's rule VALUES are generated from the
    * parsed resource).
    */
  val q186PslDomainCap: Q = (s, d) => {
    import graft.operators.Relational
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val hosts = docs.select(col("doc_id"), host186.as("host"))
    // The PSL lineage feeds TWO consumers (keep-set branch + output
    // join-back) and is deliberately RECOMPUTED, not persisted:
    // measured A/B (Profile min-of-5, sf0.1/32c) 1.420 s recompute vs
    // 1.806 s MEMORY_AND_DISK — the cache build/read exceeds the
    // re-run of a broadcast-join + per-row split/slice chain whose
    // heavy part (distinct hosts → rule join) is already tiny after
    // the distinct. See q184's twin note for the full A/B.
    val withDom = Psl
      .withRegistrableDomain(hosts, "host", "domain_psl")
      .withColumn("domain_proxy", UrlOps.domainOf(col("host")))
      .withColumn("agree", col("domain_psl") <=> col("domain_proxy"))
    // Per-domain cap as TOP-K MEMBERSHIP (r13 verdict Next #3): the
    // bounded-heap operator keeps the 20 lowest doc_ids per PSL
    // domain in one pass — no per-domain full sort, so a head domain
    // at crawl scale costs O(n log 20) in its one task instead of a
    // partition-sized sort. The oracle keeps the window row_number
    // formulation as the independent semantics check. NULL domains
    // (host IS a public suffix) group together — same as PARTITION BY.
    val kept = Relational
      .topKPerGroup(
        withDom.select(col("doc_id"), col("domain_psl")).withColumn("__ord", -col("doc_id")),
        20, "domain_psl", "__ord", "doc_id")
      .select(col("doc_id"), lit(true).as("keep"))
    withDom
      .join(kept, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("host"),
        col("domain_psl"),
        col("domain_proxy"),
        col("agree"),
        coalesce(col("keep"), lit(false)).as("keep"))
      .orderBy(col("doc_id"))
  }

  val q186Sql: String =
    s"""WITH hosts0 AS (
      |  SELECT doc_id, $host186Sql AS host
      |  FROM documents WHERE text IS NOT NULL),
      |${Psl.registrableDomainSql("SELECT host FROM hosts0")},
      |j AS (
      |  SELECT h.doc_id, h.host, d.dom AS domain_psl,
      |    CASE WHEN regexp_matches(h.host, '[^.]+\\.[^.]+$$')
      |         THEN regexp_extract(h.host, '[^.]+\\.[^.]+$$', 0) ELSE h.host END AS domain_proxy
      |  FROM hosts0 h LEFT JOIN psl_dom d ON d.host = h.host)
      |SELECT doc_id, host, domain_psl, domain_proxy,
      |  (domain_psl IS NOT DISTINCT FROM domain_proxy) AS agree,
      |  (row_number() OVER (PARTITION BY domain_psl ORDER BY doc_id) <= 20) AS keep
      |FROM j ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---- q187: canonicalization v2 dup groups ---------------------------

  /** Planted URLs that collide ONLY after percent-encoding
    * normalization and dot-segment resolution: `%7Euser` vs `~user`
    * (unreserved decode), `q%2fx` vs `q%2Fx` (hex uppercase),
    * `extra/../%41lpha` vs `./Alpha` (dot segments + decode).
    */
  private def url187: Column = {
    val k = (col("doc_id") % 25).cast("string")
    val m = col("doc_id") % 4
    when(
      m === 0,
      concat(lit("https://"), col("source"), lit(".com/data/%7Euser"), k, lit("/q%2fx?id="), k))
      .when(
        m === 1,
        concat(lit("https://"), col("source"), lit(".com/data/~user"), k, lit("/q%2Fx?id="), k))
      .when(
        m === 2,
        // a third of this arm gets a doc-unique suffix so the gate
        // exercises is_dup_url = false too (without it every planted
        // row has a partner and the negative side is vacuous)
        concat(
          lit("https://"), col("source"), lit(".com/data/extra/../%41lpha"), k,
          when(col("doc_id") % 3 === 0, concat(lit("-u"), col("doc_id").cast("string")))
            .otherwise(lit(""))))
      .otherwise(concat(lit("https://"), col("source"), lit(".com/data/./Alpha"), k))
  }

  private val url187Sql: String =
    """CASE CAST(doc_id % 4 AS INTEGER)
      |  WHEN 0 THEN 'https://' || source || '.com/data/%7Euser' || CAST(doc_id % 25 AS VARCHAR) ||
      |              '/q%2fx?id=' || CAST(doc_id % 25 AS VARCHAR)
      |  WHEN 1 THEN 'https://' || source || '.com/data/~user' || CAST(doc_id % 25 AS VARCHAR) ||
      |              '/q%2Fx?id=' || CAST(doc_id % 25 AS VARCHAR)
      |  WHEN 2 THEN 'https://' || source || '.com/data/extra/../%41lpha' || CAST(doc_id % 25 AS VARCHAR) ||
      |              (CASE WHEN (doc_id % 3) = 0 THEN '-u' || CAST(doc_id AS VARCHAR) ELSE '' END)
      |  ELSE 'https://' || source || '.com/data/./Alpha' || CAST(doc_id % 25 AS VARCHAR)
      |END""".stripMargin

  /** The planted-URL fixture as `(doc_id, url)` rows — public so the
    * streaming URL-dedup twin (StreamingSpec) feeds the SAME fixture
    * the q187 batch gate canonicalizes.
    */
  def plantedUrls(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), url187.as("url"))

  /** The oracle twin of [[UrlOps.pctNormalize]] over column `c` —
    * same tokenizer pattern, same unreserved set; the hex value is
    * strpos arithmetic (DuckDB has no hex-string cast in this form).
    */
  private def pctNormalizeSql(c: String): String = {
    val v = "((strpos('0123456789abcdef', substr(lower(t), 2, 1)) - 1) * 16" +
      " + strpos('0123456789abcdef', substr(lower(t), 3, 1)) - 1)"
    s"""array_to_string(list_transform(
      |      regexp_extract_all($c, '%[0-9A-Fa-f]{2}|[^%]+|%'),
      |      t -> CASE WHEN regexp_matches(t, '^%[0-9A-Fa-f]{2}$$') THEN
      |             (CASE WHEN ($v BETWEEN 48 AND 57) OR ($v BETWEEN 65 AND 90)
      |                        OR ($v BETWEEN 97 AND 122) OR $v IN (45, 46, 95, 126)
      |                   THEN chr(CAST($v AS INTEGER))
      |                   ELSE '%' || upper(substr(t, 2, 2)) END)
      |           ELSE t END), '')""".stripMargin
  }

  /** q187 — exact URL-dup detection on the FULL canonical form
    * ([[UrlOps.normalizeUrlFull]]): q183's shape with the two
    * canonicalization steps the r12 verdict named as silent
    * dup-group splitters. The oracle replays the whole chain —
    * base normalize, percent normalization (list fold), dot-segment
    * resolution (list_reduce with the prepend-[] init trick), final
    * trailing-slash re-strip — so either engine drifting on ANY step
    * flips an `is_dup_url` somewhere and fails the hash.
    */
  val q187UrlCanonicalDup: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val canon = docs.select(col("doc_id"), UrlOps.normalizeUrlFull(url187).as("url_canon"))
    val counts = canon.groupBy(col("url_canon")).agg(count(lit(1)).as("__n"))
    canon
      .join(counts, Seq("url_canon"))
      .select(col("doc_id"), col("url_canon"), (col("__n") > 1L).as("is_dup_url"))
      .orderBy(col("doc_id"))
  }

  val q187Sql: String = {
    val schemeAuthPath = "^[a-z][a-z0-9+.-]*://[^/?#]*"
    s"""WITH u0 AS (
      |  SELECT doc_id, $url187Sql AS u
      |  FROM documents WHERE text IS NOT NULL),
      |p1 AS (SELECT doc_id, ${pctNormalizeSql("u")} AS pct FROM u0),
      |n1 AS (SELECT doc_id, ${Round12Queries.normalizeUrlSql("pct")} AS p FROM p1),
      |d0 AS (SELECT doc_id, p,
      |         regexp_extract(p, '($schemeAuthPath)', 1) AS pre,
      |         regexp_extract(p, '$schemeAuthPath([^?#]*)', 1) AS path,
      |         regexp_replace(p, '$schemeAuthPath[^?#]*', '') AS rest
      |       FROM n1),
      |d1 AS (SELECT doc_id, p, pre, path, rest,
      |         list_reduce(
      |           list_prepend([]::VARCHAR[],
      |             list_transform(string_split(path[2:], '/'), s -> [s])),
      |           (acc, x) -> CASE WHEN x[1] = '.' THEN acc
      |                            WHEN x[1] = '..' THEN acc[1:greatest(len(acc) - 1, 0)]
      |                            ELSE list_concat(acc, x) END) AS folded
      |       FROM d0),
      |d2 AS (SELECT doc_id,
      |         CASE WHEN path LIKE '/%' AND regexp_matches(path, '/\\.\\.?(/|$$)')
      |              THEN pre || '/' || array_to_string(folded, '/') ||
      |                   (CASE WHEN regexp_matches(path, '/\\.\\.?$$') AND len(folded) > 0
      |                         THEN '/' ELSE '' END) || rest
      |              ELSE p END AS c1
      |       FROM d1),
      |canon AS (SELECT doc_id,
      |            regexp_replace(c1, '^([^?]*[^/?])/(\\?.*)?$$', '\\1\\2') AS url_canon
      |          FROM d2),
      |cnts AS (SELECT url_canon, COUNT(*) AS c FROM canon GROUP BY 1)
      |SELECT canon.doc_id, canon.url_canon, (cnts.c > 1) AS is_dup_url
      |FROM canon JOIN cnts USING (url_canon)
      |ORDER BY canon.doc_id NULLS FIRST""".stripMargin
  }

  // ---- q188: held-out BPE evaluation (train/apply split) -------------

  private val Q188Merges = 16

  /** q188 — the tokenizer's q185: q180 trains and tokenizes the SAME
    * corpus, so nothing gated the trained merges on text they never
    * saw. Here [[graft.operators.BpeTrainer]] trains 16 byte merges on
    * the 4/5 split only, `graft_bpe_table` tokenizes the held-out
    * fifth (byte alphabet — total, no OOV), and the gate is the
    * per-source held-out token budget with the q173 compression
    * metric. The oracle replays BOTH stages: the q176 training rounds
    * on the train split feed the q170 inference recursion over the
    * held-out pre-token universe.
    */
  val q188BpeHeldoutEval: Q = (s, d) => {
    import graft.functions.BpeTokens
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val merges = graft.operators.BpeTrainer.train(
      docs.filter(col("doc_id") % 5 =!= 0), "text", Q188Merges, byteAlphabet = true)
    val spec = BpeTokens.mergesSpecOf(merges)
    val dw = docs
      .filter(col("doc_id") % 5 === 0)
      .select(
        col("source"),
        explode(regexp_extract_all(col("text"), lit(BpeTokens.preTokenPattern), lit(0)))
          .as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("n"))
    val wordToks = dw
      .select(col("word"))
      .distinct()
      .withColumn(
        "n_toks",
        size(call_function("graft_bpe_table", col("word"), lit(spec), lit(true))).cast("long"))
      .withColumn("n_b", octet_length(col("word")).cast("long"))
    Round10Queries.joinWordMap(dw, wordToks)
      .groupBy(col("source"))
      .agg(
        sum(col("n") * col("n_toks")).as("bpe_tokens"),
        sum(col("n") * col("n_b")).as("n_bytes"))
      .withColumn("bytes_per_tok_ppm",
        expr("cast((cast(n_bytes as decimal(38,0)) * 1000000) div bpe_tokens as bigint)"))
      .orderBy(col("source"))
  }

  val q188Sql: String = {
    s"""WITH RECURSIVE
      |${Round11Queries.bpeTrainBaseCtes(
         s"unnest(regexp_extract_all(text, ${Round11Queries.preTokSqlLit}))",
         Round11Queries.byteW0SymsSql,
         TrainWhere)},
      |${Round11Queries.bpeTrainRoundCtes(Q188Merges)},
      |mt AS MATERIALIZED (SELECT l, r, rank FROM (
      |  ${Round11Queries.bpeTrainedMergesUnion(Q188Merges)})),
      |dw AS (SELECT source, w AS word, COUNT(*) AS n FROM (
      |         SELECT source, unnest(regexp_extract_all(text, ${Round11Queries.preTokSqlLit})) AS w
      |         FROM documents WHERE $EvalWhere)
      |       WHERE len(w) > 0 GROUP BY 1, 2),
      |w AS (SELECT DISTINCT word FROM dw),
      |${Round11Queries.bpeBytesReplayCtes("SELECT l, r, rank FROM mt")},
      |agg AS (SELECT dw.source,
      |               CAST(SUM(dw.n * len(f.syms)) AS BIGINT) AS bpe_tokens,
      |               CAST(SUM(dw.n * octet_length(encode(f.word))) AS BIGINT) AS n_bytes
      |        FROM dw JOIN fin f ON f.word = dw.word GROUP BY 1)
      |SELECT source, bpe_tokens, n_bytes,
      |       CAST((CAST(n_bytes AS HUGEINT) * 1000000) // bpe_tokens AS BIGINT) AS bytes_per_tok_ppm
      |FROM agg ORDER BY source NULLS FIRST""".stripMargin
  }

  def queries: Seq[Query] = Seq(
    Query("q185_classifier_eval", q185ClassifierEval, q185Sql),
    Query("q186_psl_domain_cap", q186PslDomainCap, q186Sql),
    Query("q187_url_canonical_dup", q187UrlCanonicalDup, q187Sql),
    Query("q188_bpe_heldout_eval", q188BpeHeldoutEval, q188Sql))
}
