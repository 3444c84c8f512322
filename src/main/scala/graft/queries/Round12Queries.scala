package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.BpeTokens
import graft.queries.CoreQueries.Q

/** Round-12 surface — the remaining "train it in-engine" stages and
  * the full web-corpus intake front door (VERDICT r11 Next
  * #2/#4/#5/#7 + the URL stages):
  *
  *  - q177 in-engine classifier TRAINING
  *    ([[graft.operators.ClassifierTrainer]]): integer fixed-point
  *    hard-sigmoid GD over the q174 hashed-bigram feature space; the
  *    DuckDB oracle replays every epoch as chained MATERIALIZED CTE
  *    rounds (the q175/q176 BPE-training pattern), so the gate pins
  *    every weight after every epoch-fold, corpus-generally;
  *  - q178 HTML/boilerplate extraction
  *    ([[graft.operators.HtmlExtract]]) over deterministically
  *    wrapped fixtures — both engines build IDENTICAL markup, so the
  *    gate pins the extraction pipeline;
  *  - q179 encoding screen / q181 mojibake REPAIR
  *    ([[graft.operators.TextAnalysis.encodingDiagnostics]] /
  *    [[graft.functions.FixMojibake]] behind the RFC 3986-grammar
  *    eligibility regex);
  *  - q180 train→tokenize CLOSED in-engine: `BpeTrainer` merges feed
  *    the runtime-table kernel `graft_bpe_table` in one pipeline, the
  *    oracle replaying BOTH stages;
  *  - q182 the composed intake pipeline (extract → repair → screen →
  *    rollup, one lazy plan);
  *  - q183/q184 URL normalization + URL-dup keys and per-domain caps
  *    ([[graft.operators.UrlOps]]).
  */
object Round12Queries {

  // The GATE trains 16 epochs: the oracle replays the identical loop
  // corpus-generally, and 16 (count → error → gradient → fold) rounds
  // pin the recurrence as decisively as 48 while keeping the bench
  // line in the q175/q176 train-once cost band (measured sf0.1: 48
  // epochs ≈ 18.8 s, 16 ≈ 1/3 of it). The PRODUCTION depth (48
  // epochs, 0.941 balanced acc) is pinned separately:
  // ClassifierTrainerSpec's cross-implementation case reproduces the
  // checked-in `make_classifier.py --int` artifact bit-for-bit.
  private val Buckets = 1024
  private val Epochs = 16
  private val LrMicro = 800000L

  /** q177 — train the quality classifier in-engine: final (bucket,
    * w_micro) weight table, bucket −1 = bias, over the full documents
    * corpus — the same contract as `tools/make_classifier.py --int`
    * (ClassifierTrainerSpec pins the cross-implementation equality on
    * the checked-in sf0.01 artifact; this gate pins engine ≡ SQL
    * replay on EVERY fixture).
    */
  val q177ClassifierTrain: Q = (s, d) =>
    graft.operators.ClassifierTrainer
      .trainDf(Tables.documents(s, d), "text", "doc_id", Buckets, Epochs, LrMicro)
      .orderBy(col("bucket"))

  /** Floor division in DuckDB SQL, exact for negative numerators:
    * the numerator is first reduced by its non-negative remainder
    * (DuckDB's `%` keeps the dividend's sign, so `((a % m) + m) % m`
    * is the canonical non-negative residue), making the final `//`
    * exact — its truncate-toward-zero rounding never fires. Every
    * `%`/`//` term is parenthesized: Postgres-family grammars give
    * user-level binary operators equal left-associative precedence.
    */
  private[queries] def fdSql(a: String, m: String): String =
    s"((($a) - (((($a) % ($m)) + ($m)) % ($m))) // ($m))"

  /** The epoch replay: n chained MATERIALIZED (score → error →
    * gradient → fold) rounds — MATERIALIZED is load-bearing exactly as
    * in the q175/q176 trainer replay (each round reads its
    * predecessor's weight table twice).
    */
  private[queries] def classifierTrainCtes(
      buckets: Int,
      epochs: Int,
      lrMicro: Long,
      where: String): String = {
    val rounds = (1 to epochs)
      .map { i =>
        s"""s$i AS MATERIALIZED (
          |  SELECT f.doc_id, d.y, SUM(w.w * f.x) AS dot
          |  FROM feats f JOIN wt${i - 1} w ON w.b = f.b JOIN docs d ON d.doc_id = f.doc_id
          |  GROUP BY 1, 2),
          |e$i AS MATERIALIZED (
          |  SELECT doc_id, ${fdSql("a2", "1000000")} AS e2 FROM (
          |    SELECT doc_id,
          |      ${fdSql("a1", "1000000")} *
          |        (CASE WHEN y = 1 THEN (SELECT cwp FROM cw) ELSE (SELECT cwn FROM cw) END) AS a2
          |    FROM (
          |      SELECT doc_id, y,
          |        LEAST(GREATEST(2000000000000 + dot, 0), 4000000000000)
          |          - 4000000000000 * y AS a1
          |      FROM s$i))),
          |gr$i AS MATERIALIZED (
          |  SELECT f.b, SUM(e.e2 * f.x) AS g
          |  FROM feats f JOIN e$i e ON e.doc_id = f.doc_id GROUP BY 1),
          |wt$i AS MATERIALIZED (
          |  SELECT w.b,
          |    CAST(w.w - ${fdSql(
             s"CAST($lrMicro AS HUGEINT) * COALESCE(g.g, 0)",
             "(SELECT CAST(n AS HUGEINT) * 4000000000000 FROM st)")} AS BIGINT) AS w
          |  FROM wt${i - 1} w LEFT JOIN gr$i g ON g.b = w.b)""".stripMargin
      }
      .mkString(",\n")
    s"""src AS (SELECT doc_id, text, string_split(text, ' ') AS ws
      |        FROM documents WHERE $where),
      |lab AS (SELECT doc_id, ws, $enVerdictCaseSql AS y
      |        FROM src),
      |g AS (SELECT doc_id,
      |             unnest([ws[i]||' '||ws[i+1] for i in range(1, CAST(len(ws) AS BIGINT))]) AS bigram
      |      FROM lab),
      |cnt AS (SELECT doc_id,
      |               CAST('0x' || substr(md5(bigram),1,8) AS BIGINT) % $buckets AS b,
      |               COUNT(*) AS c
      |        FROM g GROUP BY 1, 2),
      |nd AS (SELECT doc_id, SUM(c) AS N FROM cnt GROUP BY 1),
      |feats AS MATERIALIZED (
      |  SELECT doc_id, b, ((c * 1000000) // N) AS x FROM cnt JOIN nd USING (doc_id)
      |  UNION ALL
      |  SELECT doc_id, CAST(-1 AS BIGINT), CAST(1000000 AS BIGINT) FROM nd),
      |docs AS MATERIALIZED (
      |  SELECT l.doc_id, l.y FROM lab l JOIN nd ON nd.doc_id = l.doc_id),
      |st AS MATERIALIZED (SELECT COUNT(*) AS n, SUM(y) AS np FROM docs),
      |cw AS MATERIALIZED (
      |  SELECT ((n * 1000000) // (2 * np)) AS cwp,
      |         ((n * 1000000) // (2 * (n - np))) AS cwn FROM st),
      |wt0 AS MATERIALIZED (
      |  SELECT CAST(r AS BIGINT) AS b, CAST(0 AS BIGINT) AS w FROM range(-1, $buckets) t(r)),
      |$rounds""".stripMargin
  }

  /** The q26 marker-verdict CASE over a `(text, ws)` row — the shared
    * distillation target of the train (q177) and held-out-eval (q185)
    * oracles. */
  private[queries] def enVerdictCaseSql: String = {
    val mk = graft.operators.TextAnalysis.markers
    def hits(l: String): String =
      "len(list_filter(ws, t -> t IN (" + mk(l).map(w => s"'$w'").mkString(", ") + ")))"
    s"""CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) = 0
      |                    AND NOT (${hits("de")} >= ${hits("en")} AND ${hits("de")} >= ${hits("es")}
      |                             AND ${hits("de")} >= ${hits("fr")})
      |                    AND ${hits("en")} >= ${hits("es")} AND ${hits("en")} >= ${hits("fr")}
      |               THEN 1 ELSE 0 END""".stripMargin
  }

  val q177Sql: String =
    s"""WITH
      |${classifierTrainCtes(Buckets, Epochs, LrMicro, "text IS NOT NULL")}
      |SELECT b AS bucket, w AS w_micro FROM wt$Epochs
      |ORDER BY bucket NULLS FIRST""".stripMargin

  // ---- q178: HTML/boilerplate text extraction ------------------------

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Deterministic HTML wrapping of the documents fixture — both
    * engines construct the IDENTICAL markup (head boilerplate with
    * script/style, a link-dense nav div, a short h1, a comment that
    * must never leak into output, the document text as a paragraph
    * with a planted entity-encoding site, two mod-varied optional
    * blocks, and a short entity-bearing footer), so the gate pins the
    * EXTRACTION pipeline, not the fixture. doc_id%3 adds a pair of
    * short all-link list items; doc_id%5 adds a kept blockquote.
    */
  private val HtmlHead: String =
    "<html><head><title>t</title><style>p {color:#333}</style>" +
      "<script type=\"text/javascript\">if (x<2 && y>3) { nav(\"a\"); }</script></head><body>" +
      "<div class=\"nav\"><a href=\"/\">home page link</a> | <a href=\"/next\">next page here</a> | <a href=\"/prev\">previous page</a></div>"
  private val HtmlComment: String = "<!-- hidden <p>never extracted</p> -->"
  private val HtmlUl: String =
    "<ul><li><a href=\"/t1\">one link</a></li><li><a href=\"/t2\">two link</a></li></ul>"
  private val HtmlFoot: String = "<p>&copy; 2026 Example &amp; Co.</p></body></html>"
  private val EntitySite: (String, String) = (" data ", " &lt;data&gt; &amp; more ")

  /** q178 — HTML → text with boilerplate removal
    * ([[graft.operators.HtmlExtract]]): per document, the extracted
    * text (kept blocks joined by newline) plus block/short/link-dense
    * drop counts. The nav div is the linky fixture (41 link chars of
    * 47 visible ⇒ dropped), the h1/footer/list items are the short
    * fixtures, the entity site pins decode order (&lt;data&gt;
    * survives tag-stripping and decodes to literal <data> AFTER it).
    */
  /** The deterministic HTML wrapping as a Column (engine twin of the
    * `src` CTE in [[htmlCtes]]).
    */
  private def htmlCol: org.apache.spark.sql.Column = concat(
    lit(HtmlHead),
    lit("<h1>Doc "),
    col("doc_id").cast("string"),
    lit("</h1>"),
    lit(HtmlComment),
    lit("<p>"),
    replace(col("text"), lit(EntitySite._1), lit(EntitySite._2)),
    lit("</p>"),
    when(col("doc_id") % 3 === 0, lit(HtmlUl)).otherwise(lit("")),
    when(
      col("doc_id") % 5 === 1,
      concat(lit("<blockquote>"), substring(col("text"), 1, 80), lit("</blockquote>")))
      .otherwise(lit("")),
    lit(HtmlFoot))

  val q178HtmlExtract: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    graft.operators.HtmlExtract
      .extractText(docs.select(col("doc_id"), htmlCol.as("html")), "html")
      .select(col("doc_id"), col("text"), col("n_blocks"), col("n_short"), col("n_linky"))
      .orderBy(col("doc_id"))
  }

  /** The shared q178/q182 CTE pair: `src(doc_id, source, html)` — the
    * deterministic wrapping — and `blk(doc_id, source, present)` — the
    * per-block (vis, lnk) structs after script/comment removal, block
    * splitting, tag stripping, and entity decoding.
    */
  private def htmlCtes: String = {
    import graft.operators.HtmlExtract._
    def decode(inner: String): String =
      Entities.foldLeft(inner) { case (acc, (k, v)) =>
        s"replace($acc, ${sqlLit(k)}, ${sqlLit(v)})"
      }
    val vis = s"trim(${decode(s"regexp_replace(b, ${sqlLit(InlineTagPat)}, '', 'g')")})"
    val lnk =
      s"""coalesce(list_sum(list_transform(
        |            regexp_extract_all(b, ${sqlLit(AnchorPat)}, 1),
        |            x -> len(${decode(s"regexp_replace(x, ${sqlLit(InlineTagPat)}, '', 'g')")}))), 0)""".stripMargin
    // `||` rides at LINE ENDS: these fragments pass through a second
    // stripMargin when composed into q178Sql/q182Sql, and a line whose
    // first non-space char is `|` would lose it there (bit us as
    // `|(STRING, STRING)` binder errors)
    s"""src AS (
      |  SELECT doc_id, source,
      |    ${sqlLit(HtmlHead)} ||
      |    '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' ||
      |    ${sqlLit(HtmlComment)} ||
      |    '<p>' || replace(text, ${sqlLit(EntitySite._1)}, ${sqlLit(EntitySite._2)}) || '</p>' ||
      |    CASE WHEN doc_id % 3 = 0 THEN ${sqlLit(HtmlUl)} ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 1 THEN '<blockquote>' || substr(text, 1, 80) || '</blockquote>' ELSE '' END ||
      |    ${sqlLit(HtmlFoot)} AS html
      |  FROM documents WHERE text IS NOT NULL),
      |blk AS (
      |  SELECT doc_id, source,
      |    list_filter(
      |      list_transform(
      |        regexp_split_to_array(
      |          regexp_replace(
      |            regexp_replace(html, ${sqlLit(ScriptStylePat)}, '', 'g'),
      |            ${sqlLit(BlockTagPat)}, chr(10), 'g'),
      |          '\\n+'),
      |        b -> struct_pack(vis := $vis, lnk := $lnk)),
      |      s -> len(struct_extract(s, 'vis')) > 0) AS present
      |  FROM src)""".stripMargin
  }

  private val shortRule = "len(struct_extract(s, 'vis')) < 25"
  private val linkyRule =
    "len(struct_extract(s, 'vis')) >= 25 AND struct_extract(s, 'lnk') * 100 >= len(struct_extract(s, 'vis')) * 30"

  /** Kept-blocks extracted text — COALESCE is load-bearing: DuckDB
    * array_to_string of an EMPTY list is NULL where Spark array_join
    * is '' (a doc whose every block drops must extract to '' on both
    * sides).
    */
  private val extractedTextSql: String =
    s"""COALESCE(array_to_string(
      |    list_transform(
      |      list_filter(present, s -> NOT ($shortRule) AND NOT ($linkyRule)),
      |      s -> struct_extract(s, 'vis')),
      |    chr(10)), '')""".stripMargin

  val q178Sql: String =
    s"""WITH ${htmlCtes}
      |SELECT doc_id,
      |  $extractedTextSql AS text,
      |  CAST(len(present) AS BIGINT) AS n_blocks,
      |  CAST(len(list_filter(present, s -> $shortRule)) AS BIGINT) AS n_short,
      |  CAST(len(list_filter(present, s -> $linkyRule)) AS BIGINT) AS n_linky
      |FROM blk ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---- q179: UTF-8 validity / mojibake screen ------------------------

  /** q179 — per-document encoding diagnostics
    * ([[graft.operators.TextAnalysis.encodingDiagnostics]]): U+FFFD
    * replacement counts (a strict decoder's residue of truncated /
    * invalid input) and 2/3/4-byte double-encode mojibake signatures
    * (UTF-8 read as latin-1/CP-1252 — "Ã©", "â€™"). Valid VARCHAR
    * cannot carry raw invalid bytes (DuckDB would reject the parquet),
    * so these signatures ARE the detectable residue; the adversarial
    * fixture plants them (make_adversarial.py).
    */
  val q179EncodingScreen: Q = (s, d) =>
    Tables
      .documents(s, d)
      .filter(col("text").isNotNull)
      .select(
        col("doc_id") +: graft.operators.TextAnalysis.encodingDiagnostics(col("text")): _*)
      .orderBy(col("doc_id"))

  val q179Sql: String = {
    import graft.operators.TextAnalysis._
    s"""SELECT doc_id, n_chars, repl_chars, moji2, moji3, moji4,
      |  (repl_chars + moji2 + moji3 + moji4) > 0 AS suspect
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(text) AS BIGINT) AS n_chars,
      |    CAST(len(text) - len(replace(text, chr(65533), '')) AS BIGINT) AS repl_chars,
      |    CAST(len(regexp_extract_all(text, ${sqlLit(Moji2Pat)})) AS BIGINT) AS moji2,
      |    CAST(len(regexp_extract_all(text, ${sqlLit(Moji3Pat)})) AS BIGINT) AS moji3,
      |    CAST(len(regexp_extract_all(text, ${sqlLit(Moji4Pat)})) AS BIGINT) AS moji4
      |  FROM documents WHERE text IS NOT NULL)
      |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  // ---- q180: train → tokenize in one pipeline ------------------------

  private val Q180Merges = 16

  /** q180 — the induction→inference loop CLOSED in-engine:
    * [[graft.operators.BpeTrainer]] trains a byte-alphabet merge table
    * on the corpus, `graft_bpe_table` (the runtime-table kernel)
    * tokenizes the SAME corpus with it, and the gate is the per-source
    * exact token budget. The oracle replays BOTH stages — the q176
    * training rounds feed the q170 inference recursion through an
    * `mt` CTE instead of the checked-in fixture — so one wrong merge
    * or one out-of-order inference fold anywhere fails the hash.
    * Training costs one corpus pass + 16 vocabulary-sized rounds;
    * inference is paid once per DISTINCT pre-token and broadcast back.
    */
  val q180TrainTokenize: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val merges =
      graft.operators.BpeTrainer.train(docs, "text", Q180Merges, byteAlphabet = true)
    val spec = BpeTokens.mergesSpecOf(merges)
    val dw = docs
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
    Round10Queries.joinWordMap(dw, wordToks)
      .groupBy(col("source"))
      .agg(
        sum(col("n") * col("n_toks")).as("bpe_tokens"),
        sum(col("n")).as("n_pretokens"))
      .orderBy(col("source"))
  }

  val q180Sql: String = {
    s"""WITH RECURSIVE
      |${Round11Queries.bpeTrainBaseCtes(
         s"unnest(regexp_extract_all(text, ${Round11Queries.preTokSqlLit}))",
         Round11Queries.byteW0SymsSql)},
      |${Round11Queries.bpeTrainRoundCtes(Q180Merges)},
      |mt AS MATERIALIZED (SELECT l, r, rank FROM (
      |  ${Round11Queries.bpeTrainedMergesUnion(Q180Merges)})),
      |dw AS (SELECT source, w AS word, COUNT(*) AS n FROM (
      |         SELECT source, unnest(regexp_extract_all(text, ${Round11Queries.preTokSqlLit})) AS w
      |         FROM documents WHERE text IS NOT NULL)
      |       WHERE len(w) > 0 GROUP BY 1, 2),
      |w AS (SELECT DISTINCT word FROM dw),
      |${Round11Queries.bpeBytesReplayCtes("SELECT l, r, rank FROM mt")}
      |SELECT dw.source,
      |       CAST(SUM(dw.n * len(f.syms)) AS BIGINT) AS bpe_tokens,
      |       CAST(SUM(dw.n) AS BIGINT) AS n_pretokens
      |FROM dw JOIN fin f ON f.word = dw.word
      |GROUP BY 1 ORDER BY dw.source NULLS FIRST""".stripMargin
  }

  // ---- q181: mojibake REPAIR (the q179 screen's companion fix) ------

  /** q181 — whole-document double-encode REPAIR
    * ([[graft.functions.FixMojibake]] behind
    * [[graft.operators.TextAnalysis.MojibakeEligiblePat]]): documents
    * that are ASCII + complete, WELL-FORMED double-encode sequences
    * get their bytes reconstructed through the inverse
    * latin-1/CP-1252 map and re-decoded as UTF-8 ("cafÃ©" → "café",
    * "â€™" → "’", even a latin-1-mangled emoji round-trips);
    * everything else — legit accented text, mixed mojibake+CJK —
    * passes through unchanged. The oracle replays the identical walk:
    * the same eligibility regex, then per-char byte reconstruction
    * (`unicode ≤ 255` direct, else a strpos into the SAME CP-1252
    * image string the kernel inverts) re-decoded via
    * `decode(unhex(...))` — total because eligibility is exactly the
    * RFC 3629 grammar through the image map.
    */
  val q181MojibakeRepair: Q = (s, d) =>
    Tables
      .documents(s, d)
      .filter(col("text").isNotNull)
      .select(
        col("doc_id") +: graft.operators.TextAnalysis.mojibakeRepair(col("text")): _*)
      .orderBy(col("doc_id"))

  private def eligSql: String = sqlLit(graft.operators.TextAnalysis.MojibakeEligiblePat)

  /** The oracle-side repair of column `c` — the q181 walk, reusable
    * over any text expression (q182 runs it on EXTRACTED text).
    */
  private def repairCaseSql(c: String): String = {
    val img = sqlLit(graft.functions.FixMojibake.Cp1252Images)
    val byteHex =
      s"""CASE WHEN unicode(($c)[i:i]) <= 255
        |     THEN right('0' || to_hex(unicode(($c)[i:i])), 2)
        |     ELSE right('0' || to_hex(127 + strpos($img, ($c)[i:i])), 2) END""".stripMargin
    s"""CASE WHEN regexp_matches($c, $eligSql)
      |     THEN decode(unhex(COALESCE(list_aggregate(
      |            list_transform(range(1, len($c) + 1), i -> $byteHex),
      |            'string_agg', ''), '')))
      |     ELSE $c END""".stripMargin
  }

  val q181Sql: String =
    s"""WITH r AS (
      |  SELECT doc_id, text,
      |    ${repairCaseSql("text")} AS repaired
      |  FROM documents WHERE text IS NOT NULL)
      |SELECT doc_id, repaired,
      |       (regexp_matches(text, $eligSql) AND repaired <> text) AS fixed
      |FROM r ORDER BY doc_id NULLS FIRST""".stripMargin

  // ---- q182: the composed web-corpus intake pipeline ----------------

  /** q182 — the intake stages COMPOSED in one lazy plan: HTML wrap →
    * extract ([[graft.operators.HtmlExtract]]) → mojibake-repair the
    * EXTRACTED text → encoding-screen the repaired text → per-source
    * rollup (docs, extracted chars, repairs fired, residual suspects,
    * boilerplate drops). One Spark plan end-to-end — no intermediate
    * materialization, every stage per-row until the final map-side-
    * combined aggregate — and the oracle replays ALL of it: the q178
    * CTEs feed the q181 walk feed the q179 counts feed the rollup.
    * This is the shape a 100 TB web crawl actually runs: intake
    * stages fuse into the scan, and only source-grain statistics
    * shuffle.
    */
  val q182IntakePipeline: Q = (s, d) =>
    graft.operators.Intake
      .rollup(graft.operators.Intake.perDocStats(
        htmlWrapped(Tables.documents(s, d).filter(col("text").isNotNull))))
      .orderBy(col("source"))

  /** The deterministic fixture wrap as `(doc_id, source, html)` rows —
    * public so the STREAMING twin (EventStreams.intake / StreamingSpec)
    * wraps identically before [[graft.operators.Intake.perDocStats]].
    */
  def htmlWrapped(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("source"), htmlCol.as("html"))

  val q182Sql: String = {
    import graft.operators.TextAnalysis._
    val mojiSum = Seq(Moji2Pat, Moji3Pat, Moji4Pat)
      .map(p => s"len(regexp_extract_all(rt, ${sqlLit(p)}))")
      .mkString(" + ")
    s"""WITH ${htmlCtes},
      |ext AS MATERIALIZED (
      |  SELECT doc_id, source,
      |    $extractedTextSql AS t,
      |    len(list_filter(present, s -> $shortRule))
      |      + len(list_filter(present, s -> $linkyRule)) AS dropped
      |  FROM blk),
      |rep AS MATERIALIZED (
      |  SELECT doc_id, source, t, dropped,
      |    ${repairCaseSql("t")} AS rt
      |  FROM ext)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len(rt)) AS BIGINT) AS chars_out,
      |  CAST(SUM(CASE WHEN regexp_matches(t, $eligSql) AND rt <> t THEN 1 ELSE 0 END) AS BIGINT) AS n_fixed,
      |  CAST(SUM(CASE WHEN (len(rt) - len(replace(rt, chr(65533), ''))) + $mojiSum > 0
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect,
      |  CAST(SUM(dropped) AS BIGINT) AS n_dropped_blocks
      |FROM rep GROUP BY source ORDER BY source NULLS FIRST""".stripMargin
  }

  // ---- q183/q184: URL normalization, URL-dup, per-domain caps -------

  /** Deterministic per-doc URL construction (the q178 wrapping move —
    * both engines build IDENTICAL urls so the gate pins the
    * NORMALIZATION): four mod-variants covering uppercase
    * scheme/authority, default ports, utm params (leading, adjacent,
    * and sole-param positions), fragments, trailing slashes, and —
    * via variants 1 and 3 — urls that COLLIDE after normalization
    * (same source and same id residue), the planted URL-dups.
    */
  private def urlCol: org.apache.spark.sql.Column = {
    val m = col("doc_id") % 4
    when(m === 0,
      concat(
        lit("HTTPS://WWW."), col("source"), lit("-Example.COM:443/Data/"),
        col("doc_id").cast("string"), lit("/?utm_source=feed&utm_campaign=x&id="),
        (col("doc_id") % 7).cast("string"), lit("#Frag")))
      .when(m === 1,
        concat(
          lit("http://"), col("source"), lit("-example.com:80/a/b?id="),
          (col("doc_id") % 7).cast("string")))
      .when(m === 2,
        concat(
          lit("https://cdn."), col("source"), lit("-example.com/Assets/"),
          col("doc_id").cast("string"), lit("/")))
      .otherwise(
        concat(
          lit("https://"), col("source"), lit("-example.com/Data/"),
          (col("doc_id") % 50).cast("string"), lit("?utm_only=1")))
  }

  // `||` rides at line ends (the q178 double-stripMargin hazard)
  private val urlSql: String =
    """CASE CAST(doc_id % 4 AS INTEGER)
      |  WHEN 0 THEN 'HTTPS://WWW.' || source || '-Example.COM:443/Data/' || CAST(doc_id AS VARCHAR) ||
      |              '/?utm_source=feed&utm_campaign=x&id=' || CAST(doc_id % 7 AS VARCHAR) || '#Frag'
      |  WHEN 1 THEN 'http://' || source || '-example.com:80/a/b?id=' || CAST(doc_id % 7 AS VARCHAR)
      |  WHEN 2 THEN 'https://cdn.' || source || '-example.com/Assets/' || CAST(doc_id AS VARCHAR) || '/'
      |  ELSE 'https://' || source || '-example.com/Data/' || CAST(doc_id % 50 AS VARCHAR) || '?utm_only=1'
      |END""".stripMargin

  /** The oracle twin of [[graft.operators.UrlOps.normalizeUrl]] over
    * column `c` — same PATTERNS, DuckDB `\1` replacement syntax (Spark
    * uses `$1`; patterns are shared, replacement strings per-engine).
    */
  private[queries] def normalizeUrlSql(c: String): String = {
    val schemeAuth = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"
    val noFrag = s"regexp_replace($c, '(?s)#.*', '')"
    val lowered =
      s"lower(regexp_extract($noFrag, '$schemeAuth', 0)) || regexp_replace($noFrag, '$schemeAuth', '')"
    val noPort =
      s"""regexp_replace(regexp_replace($lowered,
        |      '^(http://[^/:?#]*):80([/?#]|$$)', '\\1\\2'),
        |      '^(https://[^/:?#]*):443([/?#]|$$)', '\\1\\2')""".stripMargin
    val noUtm =
      s"""regexp_replace(regexp_replace($noPort,
        |      'utm_[A-Za-z0-9_]*=[^&#]*&', '', 'g'),
        |      '[?&]?utm_[A-Za-z0-9_]*=[^&#]*$$', '')""".stripMargin
    val tidy =
      s"""regexp_replace(regexp_replace(regexp_replace($noUtm,
        |      '\\?&+', '?', 'g'), '&&+', '&', 'g'), '[?&]+$$', '')""".stripMargin
    s"regexp_replace($tidy, '^([^?]*[^/?])/(\\?.*)?$$', '\\1\\2')"
  }

  /** q183 — URL normalization + exact URL-dup detection
    * ([[graft.operators.UrlOps]]): per doc the canonical url, host,
    * registrable-domain proxy, and whether the canonical url collides
    * with another document's (the crawl-side exact dedup key). The
    * dup check is one hash equi-join on the normalized key — no
    * broadcast assumption, scale-safe at any corpus size.
    */
  val q183UrlNormalize: Q = (s, d) => {
    import graft.operators.UrlOps
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    val norm = docs
      .select(col("doc_id"), UrlOps.normalizeUrl(urlCol).as("url_norm"))
      .withColumn("host", UrlOps.hostOf(col("url_norm")))
      .withColumn("domain", UrlOps.domainOf(col("host")))
    val counts = norm.groupBy(col("url_norm")).agg(count(lit(1)).as("__n"))
    norm
      .join(counts, Seq("url_norm"))
      .select(
        col("doc_id"),
        col("url_norm"),
        col("host"),
        col("domain"),
        (col("__n") > 1L).as("is_dup_url"))
      .orderBy(col("doc_id"))
  }

  val q183Sql: String = {
    val hostPat = "^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)"
    s"""WITH u AS (
      |  SELECT doc_id, ${normalizeUrlSql(s"($urlSql)")} AS url_norm
      |  FROM documents WHERE text IS NOT NULL),
      |h AS (
      |  SELECT doc_id, url_norm,
      |    regexp_extract(url_norm, '$hostPat', 1) AS host
      |  FROM u),
      |hd AS (
      |  SELECT doc_id, url_norm, host,
      |    CASE WHEN regexp_matches(host, '[^.]+\\.[^.]+$$')
      |         THEN regexp_extract(host, '[^.]+\\.[^.]+$$', 0) ELSE host END AS domain
      |  FROM h),
      |n AS (SELECT url_norm, COUNT(*) AS c FROM hd GROUP BY 1)
      |SELECT hd.doc_id, hd.url_norm, hd.host, hd.domain, (n.c > 1) AS is_dup_url
      |FROM hd JOIN n USING (url_norm)
      |ORDER BY hd.doc_id NULLS FIRST""".stripMargin
  }

  /** q184 — per-domain document caps (the FineWeb-style domain quota:
    * any one domain may contribute at most K = 20 documents): keep the
    * 20 lowest doc_ids per domain.
    *
    * Execution (r13 verdict Next #3): TOP-K MEMBERSHIP through the
    * bounded-heap operator ([[graft.plans.TopKPerGroupExec]] via
    * [[graft.operators.Relational.topKPerGroup]]) + a flag join-back —
    * NOT `row_number().over(Window.partitionBy(domain))`. The window
    * formulation sorts every domain partition IN FULL for a k = 20
    * verdict, and a crawl's head domain (blogspot-scale, 10⁸ docs)
    * lands in ONE task — AQE skew splitting does not apply to Windows.
    * The heap keeps 20 rows per domain in one pass, O(n log k), no
    * per-group sort; the oracle KEEPS the window formulation (the
    * independent semantics spec), so the gate proves the two agree.
    */
  val q184DomainCap: Q = (s, d) => {
    import graft.operators.{Relational, UrlOps}
    val docs = Tables.documents(s, d).filter(col("text").isNotNull)
    // The normalize/host/domain chain feeds TWO consumers (keep-set
    // branch + output join-back) and is deliberately RECOMPUTED, not
    // persisted: measured A/B (Profile min-of-5, sf0.1/32c) 0.909 s
    // recompute vs 1.109 s MEMORY_AND_DISK — the columnar cache
    // build/read costs more than re-running the per-row regex map,
    // and at crawl scale the recompute is pure embarrassingly-parallel
    // CPU while a corpus-sized cache adds storage pressure. (q186
    // measured the same direction: 1.420 vs 1.806.)
    val norm = docs
      .select(col("doc_id"), UrlOps.normalizeUrl(urlCol).as("url_norm"))
      .withColumn("domain", UrlOps.domainOf(UrlOps.hostOf(col("url_norm"))))
      .select(col("doc_id"), col("domain"))
    // keep-set: 20 smallest doc_ids per domain ((−doc_id) DESC ≡
    // doc_id ASC; doc_id itself is the unique tie-break)
    val kept = Relational
      .topKPerGroup(norm.withColumn("__ord", -col("doc_id")), 20, "domain", "__ord", "doc_id")
      .select(col("doc_id"), lit(true).as("keep"))
    norm
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("domain"), coalesce(col("keep"), lit(false)).as("keep"))
      .orderBy(col("doc_id"))
  }

  val q184Sql: String = {
    val hostPat = "^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)"
    s"""WITH u AS (
      |  SELECT doc_id, ${normalizeUrlSql(s"($urlSql)")} AS url_norm
      |  FROM documents WHERE text IS NOT NULL),
      |hd AS (
      |  SELECT doc_id,
      |    CASE WHEN regexp_matches(regexp_extract(url_norm, '$hostPat', 1), '[^.]+\\.[^.]+$$')
      |         THEN regexp_extract(regexp_extract(url_norm, '$hostPat', 1), '[^.]+\\.[^.]+$$', 0)
      |         ELSE regexp_extract(url_norm, '$hostPat', 1) END AS domain
      |  FROM u)
      |SELECT doc_id, domain,
      |  (row_number() OVER (PARTITION BY domain ORDER BY doc_id) <= 20) AS keep
      |FROM hd ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  def queries: Seq[Query] = Seq(
    Query("q177_classifier_train", q177ClassifierTrain, q177Sql),
    Query("q178_html_extract", q178HtmlExtract, q178Sql),
    Query("q179_encoding_screen", q179EncodingScreen, q179Sql),
    Query("q180_train_tokenize", q180TrainTokenize, q180Sql),
    Query("q181_mojibake_repair", q181MojibakeRepair, q181Sql),
    Query("q182_intake_pipeline", q182IntakePipeline, q182Sql),
    Query("q183_url_normalize", q183UrlNormalize, q183Sql),
    Query("q184_domain_cap", q184DomainCap, q184Sql))
}
