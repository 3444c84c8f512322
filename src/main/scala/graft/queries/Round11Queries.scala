package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.BpeTokens
import graft.queries.CoreQueries.Q

/** Round-11 surface — BYTE-level BPE with the GPT-2-style
  * pre-tokenizer, the production form of the round-10 code-point
  * tokenizer (VERDICT r10 ask #1):
  *
  *  - q170 byte-level BPE tokenization
  *    ([[graft.functions.BpeBytesTokens]]): the corpus pre-tokenized
  *    by [[BpeTokens.preTokenPattern]] (contractions, leading-space
  *    words — the GPT-2 shape, restricted to the Java∩RE2 regex
  *    subset), every distinct pre-token split over the BYTE-alphabet
  *    merge fixture; tokens are chr(256+b)-mapped byte strings, the
  *    full split pinned cross-engine;
  *  - q171 per-document exact byte-BPE token budget — what a real
  *    byte-level tokenizer bills, correct on non-ASCII where the
  *    code-point counts (q168) drift.
  *
  * The DuckDB oracle rebuilds the identical symbol stream from
  * `hex(encode(word))` — byte b becomes the single code point
  * chr(256 + b) — and replays the identical greedy lowest-rank merge
  * loop as the q167 recursive CTE chain, just with the byte-mode
  * init and merge table. Scale shape unchanged from q167/q168: BPE
  * is paid once per DISTINCT pre-token (vocabulary ≪ corpus), the
  * pre-token→count map is the broadcast side, and the per-document
  * rollup is one map-side-combined aggregate.
  */
object Round11Queries {

  /** The byte-mode merge table inlined as SQL VALUES — generated from
    * the SAME classpath fixture the native kernel loads. Symbols live
    * at U+0100..U+01FF (never a quote), but quote-doubling stays as a
    * defensive invariant.
    */
  private def byteMergeValues: String =
    BpeTokens.bytesMerges.zipWithIndex
      .map { case ((l, r), i) =>
        val ql = l.replace("'", "''")
        val qr = r.replace("'", "''")
        s"('$ql','$qr',$i)"
      }
      .mkString(", ")

  /** The pre-tokenizer pattern as a SQL string literal. */
  private[queries] def preTokSqlLit: String =
    "'" + BpeTokens.preTokenPattern.replace("'", "''") + "'"

  /** Byte-mode replay CTE chain, parameterized on a `w(word)` CTE the
    * caller must have defined. `init` maps each pre-token to its
    * UTF-8 bytes via `hex(encode(word))` — two hex digits per byte,
    * each byte becoming the single symbol chr(256 + b), the exact
    * mapping of [[BpeTokens.encodeBytes]] — and the recursion is the
    * q167 greedy merge replay verbatim (lowest-rank adjacent pair via
    * the chr(1) pair-key encoding, one left-to-right non-overlapping
    * `list_reduce` fold per step).
    */
  private def bpeBytesCtes: String =
    bpeBytesReplayCtes(s"SELECT * FROM (VALUES $byteMergeValues) v(l, r, rank)")

  /** [[bpeBytesCtes]] with the merge table sourced from any SQL
    * relation yielding (l, r, rank) — the q180 path feeds the
    * TRAINED merges (a union over the training rounds' m_i CTEs)
    * instead of the checked-in fixture's VALUES.
    */
  private[queries] def bpeBytesReplayCtes(mergesRel: String): String =
    s"""m AS MATERIALIZED ($mergesRel),
      |hx AS (SELECT word, hex(encode(word)) AS h FROM w),
      |init AS (
      |  SELECT word,
      |    list_transform(range(1, len(h)//2 + 1),
      |      i -> chr(CAST(256 + (strpos('0123456789ABCDEF', h[2*i-1:2*i-1]) - 1) * 16
      |                 + (strpos('0123456789ABCDEF', h[2*i:2*i]) - 1) AS INTEGER))) AS syms
      |  FROM hx),
      |bpe AS (
      |  SELECT word, syms FROM init
      |  UNION ALL
      |  SELECT word,
      |    list_reduce(
      |      list_transform(syms, s -> [s]),
      |      (acc, x) -> CASE WHEN acc[-1] = bl AND x[1] = br
      |                       THEN acc[1:len(acc)-1] || [bl || br]
      |                       ELSE acc || x END) AS syms
      |  FROM (
      |    SELECT b.word, b.syms, mm.l AS bl, mm.r AS br
      |    FROM bpe b JOIN m mm ON mm.rank = (
      |      SELECT MIN(m2.rank) FROM m m2
      |      WHERE list_contains(
      |        list_transform(range(1, len(b.syms)), i -> b.syms[i] || chr(1) || b.syms[i+1]),
      |        m2.l || chr(1) || m2.r)))),
      |fin AS (
      |  SELECT word, syms FROM bpe t WHERE NOT EXISTS (
      |    SELECT 1 FROM m m2 WHERE list_contains(
      |      list_transform(range(1, len(t.syms)), i -> t.syms[i] || chr(1) || t.syms[i+1]),
      |      m2.l || chr(1) || m2.r)))""".stripMargin

  /** q170 — the distinct-pre-token byte-BPE table: every GPT-2-style
    * pre-token (regexp_extract_all, full-match) with its occurrence
    * count, byte-token count, and the FULL chr-mapped token split
    * joined with '|'. Pinning the joined split means one out-of-order
    * merge anywhere fails the hash gate.
    */
  val q170BpeBytesTokenize: Q = (s, d) => {
    Tables
      .documents(s, d)
      .filter(col("text").isNotNull)
      .select(
        explode(regexp_extract_all(col("text"), lit(BpeTokens.preTokenPattern), lit(0)))
          .as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_occ"))
      .withColumn("t", call_function("graft_bpe_bytes", col("word")))
      .select(
        col("word"),
        col("n_occ"),
        size(col("t")).cast("long").as("n_toks"),
        concat_ws("|", col("t")).as("toks"))
      .orderBy(col("word"))
  }

  val q170Sql: String =
    s"""WITH RECURSIVE
      |wc AS (SELECT w AS word, COUNT(*) AS n_occ FROM (
      |         SELECT unnest(regexp_extract_all(text, $preTokSqlLit)) AS w
      |         FROM documents WHERE text IS NOT NULL)
      |       WHERE len(w) > 0 GROUP BY 1),
      |w AS (SELECT word FROM wc),
      |$bpeBytesCtes
      |SELECT wc.word, wc.n_occ, CAST(len(f.syms) AS BIGINT) AS n_toks,
      |       array_to_string(f.syms, '|') AS toks
      |FROM wc JOIN fin f ON f.word = wc.word
      |ORDER BY wc.word NULLS FIRST""".stripMargin

  /** q171 — per-document exact byte-BPE token budget: (doc, pre-token)
    * occurrence counts joined ([[Round10Queries.joinWordMap]]) to the
    * distinct-pre-token byte token counts, rolled up per document; `n_bytes` (UTF-8) rides
    * along so the bytes-per-token compression ratio is visible per row.
    */
  val q171BpeBytesBudget: Q = (s, d) => {
    val dw = Tables
      .documents(s, d)
      .filter(col("text").isNotNull)
      .select(
        col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(BpeTokens.preTokenPattern), lit(0)))
          .as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("n"))
    val wordToks = dw
      .select(col("word"))
      .distinct()
      .withColumn("n_toks", size(call_function("graft_bpe_bytes", col("word"))).cast("long"))
      .withColumn("n_b", octet_length(col("word")).cast("long"))
    Round10Queries.joinWordMap(dw, wordToks)
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n") * col("n_toks")).as("bpe_tokens"),
        sum(col("n") * col("n_b")).as("n_bytes"))
      .orderBy(col("doc_id"))
  }

  val q171Sql: String =
    s"""WITH RECURSIVE
      |dw AS (SELECT doc_id, w AS word, COUNT(*) AS n FROM (
      |         SELECT doc_id, unnest(regexp_extract_all(text, $preTokSqlLit)) AS w
      |         FROM documents WHERE text IS NOT NULL)
      |       WHERE len(w) > 0 GROUP BY 1, 2),
      |w AS (SELECT DISTINCT word FROM dw),
      |$bpeBytesCtes
      |SELECT dw.doc_id,
      |       CAST(SUM(dw.n * len(f.syms)) AS BIGINT) AS bpe_tokens,
      |       CAST(SUM(dw.n * octet_length(encode(f.word))) AS BIGINT) AS n_bytes
      |FROM dw JOIN fin f ON f.word = dw.word
      |GROUP BY 1 ORDER BY dw.doc_id NULLS FIRST""".stripMargin

  /** q172 — sequence packing by EXACT byte-BPE counts (q169's shape
    * on the production tokenizer): the q171 budget fed through
    * [[graft.operators.TextAnalysis.packSequencesByCount]] (512-token
    * sequences, 8 id-modulo shards). Documents with no pre-tokens
    * pack at count 0; the full per-document (shard, bin) mapping is
    * the gate, the oracle replaying byte-BPE and the greedy per-shard
    * fill in one recursive SQL.
    */
  val q172BpeBytesPack: Q = (s, d) => {
    val docs = Tables
      .documents(s, d)
      .filter(col("doc_id") < 400 && col("text").isNotNull)
    val dw = docs
      .select(
        col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(BpeTokens.preTokenPattern), lit(0)))
          .as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("n"))
    val wordToks = dw
      .select(col("word"))
      .distinct()
      .withColumn("n_toks", size(call_function("graft_bpe_bytes", col("word"))).cast("long"))
    val counts = Round10Queries.joinWordMap(dw, wordToks)
      .groupBy(col("doc_id"))
      .agg(sum(col("n") * col("n_toks")).as("bpe_tok"))
    val withCounts = docs
      .select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .withColumn("bpe_tok", coalesce(col("bpe_tok"), lit(0L)))
    graft.operators.TextAnalysis
      .packSequencesByCount(withCounts, "doc_id", "bpe_tok", 512, 8)
      .orderBy(col("doc_id"))
  }

  val q172Sql: String =
    s"""WITH RECURSIVE
      |dw AS (SELECT doc_id, w AS word, COUNT(*) AS n FROM (
      |         SELECT doc_id, unnest(regexp_extract_all(text, $preTokSqlLit)) AS w
      |         FROM documents WHERE doc_id < 400 AND text IS NOT NULL)
      |       WHERE len(w) > 0 GROUP BY 1, 2),
      |w AS (SELECT DISTINCT word FROM dw),
      |$bpeBytesCtes,
      |counts AS (SELECT dw.doc_id, CAST(SUM(dw.n * len(f.syms)) AS BIGINT) AS bpe
      |           FROM dw JOIN fin f ON f.word = dw.word GROUP BY 1),
      |docs AS (SELECT d.doc_id, CAST(d.doc_id % 8 AS INTEGER) AS shard,
      |                least(COALESCE(c.bpe, 0), 512) AS n
      |         FROM (SELECT doc_id FROM documents WHERE doc_id < 400 AND text IS NOT NULL) d
      |         LEFT JOIN counts c ON c.doc_id = d.doc_id),
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

  /** q173 — byte-BPE compression-ratio quality signal: per (source,
    * lang), total byte-BPE tokens, total UTF-8 bytes, and the exact
    * integer bytes-per-token ratio in ppm — the standard
    * tokenizer-compressibility feature (gibberish and wrong-alphabet
    * text compress badly, boilerplate compresses suspiciously well)
    * that only a REAL tokenizer can provide. Pure composition of the
    * q171 budget with one tiny rollup; `(bytes·10⁶) div tokens` is
    * division-free-exact (both engines' integer `div`/`//` agree on
    * non-negatives). The multiply rides in decimal(38,0) (HUGEINT on
    * the oracle side) so a (source,lang) group past ~9.2 TB of text —
    * where `n_bytes * 10⁶` leaves Long range — still computes the
    * exact ratio instead of wrapping (non-ANSI) or throwing (ANSI);
    * the quotient itself is ≤ n_bytes·10⁶ / 1 token-per-byte·10⁶-ish
    * ppm and always fits a BIGINT.
    */
  val q173BpeCompression: Q = (s, d) => {
    val dw = Tables
      .documents(s, d)
      .filter(col("text").isNotNull)
      .select(
        col("source"),
        col("lang"),
        explode(regexp_extract_all(col("text"), lit(BpeTokens.preTokenPattern), lit(0)))
          .as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("source"), col("lang"), col("word"))
      .agg(count(lit(1)).as("n"))
    val wordToks = dw
      .select(col("word"))
      .distinct()
      .withColumn("n_toks", size(call_function("graft_bpe_bytes", col("word"))).cast("long"))
      .withColumn("n_b", octet_length(col("word")).cast("long"))
    Round10Queries.joinWordMap(dw, wordToks)
      .groupBy(col("source"), col("lang"))
      .agg(
        sum(col("n") * col("n_toks")).as("bpe_tokens"),
        sum(col("n") * col("n_b")).as("n_bytes"))
      .withColumn("bytes_per_tok_ppm",
        expr("(cast(n_bytes as decimal(38,0)) * 1000000) div bpe_tokens"))
      .orderBy(col("source"), col("lang"))
  }

  val q173Sql: String =
    s"""WITH RECURSIVE
      |dw AS (SELECT source, lang, w AS word, COUNT(*) AS n FROM (
      |         SELECT source, lang, unnest(regexp_extract_all(text, $preTokSqlLit)) AS w
      |         FROM documents WHERE text IS NOT NULL)
      |       WHERE len(w) > 0 GROUP BY 1, 2, 3),
      |w AS (SELECT DISTINCT word FROM dw),
      |$bpeBytesCtes,
      |agg AS (SELECT dw.source, dw.lang,
      |               CAST(SUM(dw.n * len(f.syms)) AS BIGINT) AS bpe_tokens,
      |               CAST(SUM(dw.n * octet_length(encode(f.word))) AS BIGINT) AS n_bytes
      |        FROM dw JOIN fin f ON f.word = dw.word GROUP BY 1, 2)
      |SELECT source, lang, bpe_tokens, n_bytes,
      |       CAST((CAST(n_bytes AS HUGEINT) * 1000000) // bpe_tokens AS BIGINT) AS bytes_per_tok_ppm
      |FROM agg ORDER BY source NULLS FIRST, lang NULLS FIRST""".stripMargin

  /** q174 — learned-classifier quality filtering
    * ([[graft.operators.TextAnalysis.classifierKeepRule]]): the
    * DCLM/fastText-style inference stage, scoring every document with
    * the checked-in hashed-bigram logistic model (trained by
    * `tools/make_classifier.py`, distilling the q26 marker verdict —
    * the FineWeb-Edu / DCLM distillation pattern) and keeping
    * `score > 0`. The score is exact integer micro-units (the
    * sigmoid/normalization cross-multiplied away), so the verdict is
    * bit-stable across engines, partitionings, and reruns. The DuckDB
    * oracle inlines the SAME weight fixture as a VALUES table and
    * replays the identical bucket hash + integer test.
    */
  val q174ClassifierFilter: Q = (s, d) => {
    val (bias, w) = graft.operators.TextAnalysis.qualityClassifier
    graft.operators.TextAnalysis
      .classifierKeepRule(Tables.documents(s, d), "text", "doc_id", w, bias)
      .orderBy(col("doc_id"))
  }

  val q174Sql: String = {
    val (bias, w) = graft.operators.TextAnalysis.qualityClassifier
    val wValues = w.zipWithIndex.map { case (v, b) => s"($b,$v)" }.mkString(", ")
    s"""WITH wts(bucket, wt) AS (VALUES $wValues),
      |w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |g AS (SELECT doc_id, unnest([ws[i]||' '||ws[i+1] for i in range(1, CAST(len(ws) AS BIGINT))]) AS bigram FROM w),
      |gb AS (SELECT doc_id, CAST('0x' || substr(md5(bigram),1,8) AS BIGINT) % ${w.length} AS bucket FROM g),
      |per AS (SELECT doc_id, CAST(SUM(wts.wt) AS BIGINT) AS raw, CAST(COUNT(*) AS BIGINT) AS n
      |        FROM gb JOIN wts ON wts.bucket = gb.bucket GROUP BY 1)
      |SELECT d.doc_id,
      |       CAST(COALESCE(per.raw, 0) + ($bias) * COALESCE(per.n, 0) AS BIGINT) AS score_micro,
      |       COALESCE(per.n, 0) AS n_bigrams,
      |       (COALESCE(per.raw, 0) + ($bias) * COALESCE(per.n, 0)) > 0 AS keep
      |FROM (SELECT doc_id FROM documents) d LEFT JOIN per ON per.doc_id = d.doc_id
      |ORDER BY d.doc_id NULLS FIRST""".stripMargin
  }

  /** q175 — in-engine distributed BPE TRAINING
    * ([[graft.operators.BpeTrainer]]): induce the 48-merge vocabulary
    * from the corpus itself (one corpus pass for word counts, then
    * vocabulary-sized rounds — pair-count agg + 1-row argmax + fold
    * per merge). The DuckDB oracle RE-DERIVES the whole training loop
    * as 48 chained (count → argmax → fold) CTE rounds over the same
    * word-frequency table — corpus-general, so the gate holds on
    * every fixture, not just the one `graft/bpe_merges.txt` was
    * trained on. (BpeTrainerSpec additionally pins
    * cross-IMPLEMENTATION equality: engine training ≡ the independent
    * python trainer's checked-in artifact on sf0.01.) An exhausted
    * round (no pair ≥ 2) yields an empty argmax CTE; its scalar
    * subqueries go NULL, the fold no-ops, and every later round stays
    * empty — termination replays exactly.
    */
  val q175BpeTrain: Q = (s, d) =>
    graft.operators.BpeTrainer
      .trainDf(Tables.documents(s, d), "text", nMerges = BpeTokens.merges.length)
      .orderBy(col("rank"))

  /** The training-loop replay, shared by q175 (char alphabet) and
    * q176 (byte alphabet): `n` chained MATERIALIZED (count → argmax →
    * fold) rounds — MATERIALIZED is load-bearing, as each round
    * references its predecessor twice and default CTE inlining would
    * go exponential — parameterized on the base word source and the
    * initial symbol split.
    */
  private[queries] def bpeTrainRoundCtes(n: Int): String =
    (1 to n)
      .map { i =>
        s"""c$i AS MATERIALIZED (
          |  SELECT l, r, SUM(n) AS c FROM (
          |    SELECT unnest(syms[1:len(syms)-1]) AS l, unnest(syms[2:len(syms)]) AS r, n
          |    FROM w${i - 1} WHERE len(syms) > 1)
          |  GROUP BY 1, 2
          |  HAVING SUM(n) >= 2 AND NOT regexp_matches(l || r, '[\\x00-\\x1f]')),
          |m$i AS MATERIALIZED (SELECT l, r FROM c$i ORDER BY c DESC, l, r LIMIT 1),
          |w$i AS MATERIALIZED (
          |  SELECT list_reduce(list_transform(syms, s -> [s]),
          |    (acc, x) -> CASE WHEN acc[-1] = bl AND x[1] = br
          |                     THEN acc[1:len(acc)-1] || [bl || br]
          |                     ELSE acc || x END) AS syms, n
          |  FROM w${i - 1} LEFT JOIN (SELECT l AS bl, r AS br FROM m$i) mm$i ON TRUE)""".stripMargin
      }
      .mkString(",\n")

  private[queries] def bpeTrainedMergesUnion(n: Int): String =
    (1 to n)
      .map(i => s"SELECT ${i - 1} AS rank, l, r FROM m$i")
      .mkString("\n  UNION ALL ")

  /** Training base CTEs: `base(w, n)` word frequencies + the `w0`
    * initial symbol split, shared by q175/q176/q180.
    */
  private[queries] def bpeTrainBaseCtes(
      wordSrcSql: String,
      w0SymsSql: String,
      where: String = "text IS NOT NULL"): String =
    s"""base AS (SELECT w, COUNT(*) AS n FROM (
      |           SELECT $wordSrcSql AS w
      |           FROM documents WHERE $where)
      |         WHERE len(w) > 0 GROUP BY 1),
      |w0 AS MATERIALIZED (SELECT $w0SymsSql AS syms, n FROM base)""".stripMargin

  /** The q176 byte-alphabet initial split: hex(encode(w)) walked two
    * digits at a time into chr(256 + b) symbols.
    */
  private[queries] val byteW0SymsSql: String =
    """list_transform(range(1, len(hex(encode(w)))//2 + 1),
      |      i -> chr(CAST(256 + (strpos('0123456789ABCDEF', hex(encode(w))[2*i-1:2*i-1]) - 1) * 16
      |                 + (strpos('0123456789ABCDEF', hex(encode(w))[2*i:2*i]) - 1) AS INTEGER)))""".stripMargin

  private def bpeTrainSql(n: Int, wordSrcSql: String, w0SymsSql: String): String =
    s"""WITH
      |${bpeTrainBaseCtes(wordSrcSql, w0SymsSql)},
      |${bpeTrainRoundCtes(n)}
      |SELECT CAST(rank AS BIGINT) AS rank, l, r FROM (
      |  ${bpeTrainedMergesUnion(n)})
      |ORDER BY rank NULLS FIRST""".stripMargin

  val q175Sql: String =
    bpeTrainSql(
      BpeTokens.merges.length,
      "unnest(string_split(text, ' '))",
      "string_split(w, '')")

  /** q176 — byte-alphabet training (the production GPT-2 form): same
    * loop over the pre-token universe with chr(256+b) byte symbols
    * (the q170 hex(encode(w)) mapping).
    */
  val q176BpeTrainBytes: Q = (s, d) =>
    graft.operators.BpeTrainer
      .trainDf(
        Tables.documents(s, d), "text",
        nMerges = BpeTokens.bytesMerges.length, byteAlphabet = true)
      .orderBy(col("rank"))

  val q176Sql: String =
    bpeTrainSql(
      BpeTokens.bytesMerges.length,
      s"unnest(regexp_extract_all(text, $preTokSqlLit))",
      byteW0SymsSql)

  def queries: Seq[Query] = Seq(
    Query("q170_bpe_bytes_tokenize", q170BpeBytesTokenize, q170Sql),
    Query("q171_bpe_bytes_budget", q171BpeBytesBudget, q171Sql),
    Query("q172_bpe_bytes_pack", q172BpeBytesPack, q172Sql),
    Query("q173_bpe_compression", q173BpeCompression, q173Sql),
    Query("q174_classifier_filter", q174ClassifierFilter, q174Sql),
    Query("q175_bpe_train", q175BpeTrain, q175Sql),
    Query("q176_bpe_train_bytes", q176BpeTrainBytes, q176Sql))
}
