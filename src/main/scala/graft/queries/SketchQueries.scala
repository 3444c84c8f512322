package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Relational, Similarity, TextAnalysis}
import graft.queries.CoreQueries.Q

/** Round-8 closing surface — frequency sketching, hybrid retrieval,
  * event-sequence observability, and the remaining graph-structure
  * pair:
  *
  *  - q136 count-min sketch token-frequency estimation (the third
  *    mergeable sketch beside KMV/q112 and HLL/q130 — counter sums,
  *    gated against its exact twin with the overestimate property);
  *  - q137 reciprocal-rank fusion of the lexical (BM25, q119) and
  *    dense (centroid relevance, q126) retrieval rankings — the
  *    standard hybrid-search combinator, integer-exact contributions;
  *  - q138 ordered event funnel (strictly-after stage recurrence
  *    with per-stage survivor counts and exact conversion lags);
  *  - q139 2-core of the near-dup graph (iterated peeling to a
  *    PROVEN fixpoint — the cycle-containing cluster set, q118's
  *    set-level complement);
  *  - q140 HITS hubs/authorities (integer max-rescaled alternating
  *    rounds over the directed trading graph — the role split
  *    undirected PageRank can't express);
  *  - q141 ingest-rate anomaly screen (3σ z-test as exact integer
  *    cross-products — per-hour pipeline observability);
  *  - q142 embedding Gram matrix (decimal-exact Σ v·vᵀ via stacked
  *    generates, no self-join — the PCA/whitening prep pass);
  *  - q143 referential-integrity conformance audit (per-FK-edge
  *    row/null/orphan counts via broadcast anti-joins — q133's
  *    cross-table complement);
  *  - q144 per-language curriculum decile binning (broadcast
  *    discrete quantile boundaries, no corpus Window);
  *  - q145 sorted-neighborhood dedup candidates (rank-block
  *    equi-join adjacency over the windowless global numbering).
  *
  * Same determinism contract as the rest of the catalog: md5-derived
  * hashes, integer counts/ranks/lags, ties always broken by a unique
  * id — bit-identical to the DuckDB oracle under any partitioning.
  */
object SketchQueries {

  /** q136 — count-min sketch frequency estimation
    * ([[Relational.countMinSketch]], d = 4 × w = 512) over the
    * whitespace-token occurrences of the document corpus, probed at
    * the 30 highest-frequency tokens and reported beside the exact
    * counts. The gate checks the full estimator pipeline (salted
    * hashing, counter sums, min-over-rows) bit-for-bit; the
    * overestimate invariant (`cms_est >= n_exact`, collisions only
    * ADD) is asserted in `SelectionSpec`.
    *
    * Scale: the sketch pass reduces the corpus to ≤ d·w = 2048
    * counter rows via map-side combine — the exact-count pass exists
    * here only to produce the gate's twin column (at 100 TB you keep
    * the sketch and drop the exact pass; that trade is the point).
    */
  val q136Cms: Q = (s, d) => {
    val occ = Tables
      .documents(s, d)
      .select(explode(split(col("text"), " ")).as("tok"))
    val sketch = Relational.countMinSketch(occ, "tok", depth = 4, width = 512)
    val top = occ
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("tok"))
      .limit(30)
    Relational
      .cmsEstimate(sketch, top, "tok", depth = 4, width = 512)
      .orderBy(col("n_exact").desc, col("tok"))
  }

  /** Oracle: identical salted-md5 bucket hash, counter sums, and
    * min-over-depth — all integer arithmetic.
    */
  val q136Sql: String =
    """WITH occ AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |js AS (SELECT unnest([0, 1, 2, 3]) AS j),
      |sk AS (SELECT js.j,
      |              (CAST('0x' || substr(md5('cms' || CAST(js.j AS VARCHAR) || ':' || occ.tok), 1, 15) AS BIGINT) % 512) AS bucket,
      |              COUNT(*) AS cnt
      |       FROM occ, js GROUP BY 1, 2),
      |ex AS (SELECT tok, COUNT(*) AS n_exact FROM occ GROUP BY 1
      |       ORDER BY n_exact DESC, tok LIMIT 30),
      |pe AS (SELECT ex.tok, ex.n_exact, js.j,
      |              (CAST('0x' || substr(md5('cms' || CAST(js.j AS VARCHAR) || ':' || ex.tok), 1, 15) AS BIGINT) % 512) AS bucket
      |       FROM ex, js)
      |SELECT pe.tok, pe.n_exact, MIN(sk.cnt) AS cms_est
      |FROM pe JOIN sk ON sk.j = pe.j AND sk.bucket = pe.bucket
      |GROUP BY 1, 2
      |ORDER BY n_exact DESC, tok NULLS FIRST""".stripMargin

  /** q137 — reciprocal-rank fusion (Cormack et al., SIGIR 2009) of
    * the two retrieval rankings this catalog already gates: the
    * lexical BM25 seed-query scores (q119's integer fractions) and
    * the dense eval-centroid relevance (q126's decimal-exact dots).
    * Each list is cut to its top 100 (TakeOrderedAndProject — the
    * only corpus-grain ordering), ranked on the bounded frame, and
    * fused as `Σ 10⁹ div (60 + rank)` — the float-free twin of the
    * standard 1/(60+r) formula, so the fused ordering is
    * bit-identical across engines. Top 20 by (rrf, id).
    *
    * Scale: both score passes are the already-audited corpus shapes
    * (BM25 = map-side folds + 1-row broadcast; centroid = broadcast
    * crossJoin + native dot); everything after the two `limit(100)`s
    * is driver-trivial. Ranks come from the windowless
    * [[Relational.globalRowNumber]] on the bounded 100-row frames —
    * no WindowExec anywhere in the plan.
    */
  val q137Rrf: Q = (s, d) => {
    // Lexical side: q119's scorer verbatim (raw scan — cheap per-row
    // folds, the round-8 rule for single-pass corpus projections).
    val lex = TextAnalysis
      .bm25Scores(Tables.table(s, d, "documents"), "text", "doc_id", Seq("spark", "join", "filter", "hash"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(100)
    // Ranks via the windowless globalRowNumber (numPartitions = 1 on
    // the bounded 100-row frame): keyed on the NEGATED score so the
    // ascending numbering is the descending-score rank, ties broken
    // by the id tiebreak the operator applies to the remaining columns.
    val lexR = Relational
      .globalRowNumber(
        lex.select((-col("bm25")).as("neg"), col("doc_id")),
        "neg",
        numPartitions = 1,
        outCol = "r_lex")
      .select(col("doc_id").as("id"), col("r_lex"))
    // Dense side: q126's scorer, shared ([[SelectionQueries.centroidRelevance]]).
    val den = SelectionQueries
      .centroidRelevance(s, d)
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(100)
    val denR = Relational
      .globalRowNumber(
        den.select((-col("rel")).as("neg"), col("vec_id")),
        "neg",
        numPartitions = 1,
        outCol = "r_cent")
      .select(col("vec_id").as("id"), col("r_cent"))
    lexR
      .join(denR, Seq("id"), "full_outer")
      .select(
        col("id"),
        col("r_lex"),
        col("r_cent"),
        (coalesce(expr("1000000000 div (60 + r_lex)"), lit(0L)) +
          coalesce(expr("1000000000 div (60 + r_cent)"), lit(0L))).as("rrf"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(20)
  }

  /** Oracle: q119's HUGEINT BM25 fraction and q126's decimal dot via
    * the SHARED builders ([[SelectionQueries.bm25Ctes]] /
    * [[SelectionQueries.centroidRelevanceCtes]] — this oracle cannot
    * drift from the two it fuses), each top-100 with the same
    * tie-break, ROW_NUMBER on the bounded frames, identical integer
    * RRF contributions.
    */
  val q137Sql: String =
    s"""WITH ${SelectionQueries.bm25Ctes(Seq("spark", "join", "filter", "hash"))},
      |lex AS (SELECT doc_id, bm25 FROM bm ORDER BY bm25 DESC, doc_id LIMIT 100),
      |lexr AS (SELECT doc_id AS id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex FROM lex),
      |${SelectionQueries.centroidRelevanceCtes},
      |den AS (SELECT vec_id, rel FROM crel ORDER BY rel DESC, vec_id LIMIT 100),
      |denr AS (SELECT vec_id AS id, ROW_NUMBER() OVER (ORDER BY rel DESC, vec_id) AS r_cent FROM den)
      |SELECT COALESCE(lexr.id, denr.id) AS id, lexr.r_lex, denr.r_cent,
      |       (COALESCE(CAST(1000000000 AS BIGINT) // (60 + lexr.r_lex), 0) +
      |        COALESCE(CAST(1000000000 AS BIGINT) // (60 + denr.r_cent), 0)) AS rrf
      |FROM lexr FULL OUTER JOIN denr ON denr.id = lexr.id
      |ORDER BY rrf DESC, id NULLS FIRST LIMIT 20""".stripMargin

  /** q138 — ordered event funnel view → click → purchase
    * ([[Relational.funnelStages]]): per-stage survivor counts plus
    * the EXACT total conversion lag (Σ of first-qualifying-event
    * gaps, integer microseconds — a float average would be
    * summation-order-sensitive and un-gateable). The strictly-after
    * recurrence is the semantics product funnels need: a click
    * before the user's first view does not count, so per-type global
    * mins (one scan, no joins) would be WRONG — the per-stage
    * survivor join is the price of correctness, not a plan accident.
    */
  val q138Funnel: Q = (s, d) => {
    val st = Relational.funnelStages(
      Tables.events(s, d),
      "user_id",
      "event_type",
      "ts_us",
      Seq("view", "click", "purchase"))
    st.agg(
        count(col("t1")).as("u1"),
        count(col("t2")).as("u2"),
        count(col("t3")).as("u3"),
        coalesce(sum(col("t2") - col("t1")), lit(0L)).as("l2"),
        coalesce(sum(col("t3") - col("t2")), lit(0L)).as("l3"))
      .select(
        explode(
          array(
            struct(
              lit(1L).as("stage"),
              lit("view").as("step"),
              col("u1").as("users"),
              lit(0L).as("total_lag_us")),
            struct(
              lit(2L).as("stage"),
              lit("click").as("step"),
              col("u2").as("users"),
              col("l2").as("total_lag_us")),
            struct(
              lit(3L).as("stage"),
              lit("purchase").as("step"),
              col("u3").as("users"),
              col("l3").as("total_lag_us")))).as("r"))
      .select(col("r.*"))
      .orderBy(col("stage"))
  }

  /** Oracle: the same strictly-after MIN recurrence as chained CTEs.
    * DuckDB's SUM(BIGINT) widens to HUGEINT — cast back.
    */
  val q138Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s1 AS (SELECT user_id, MIN(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM e JOIN s1 ON s1.user_id = e.user_id
      |       WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, MIN(e.us) AS t3 FROM e JOIN s2 ON s2.user_id = e.user_id
      |       WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY 1),
      |j AS (SELECT s1.user_id, s1.t1, s2.t2, s3.t3
      |      FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
      |              LEFT JOIN s3 ON s3.user_id = s2.user_id)
      |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS step, COUNT(t1) AS users, CAST(0 AS BIGINT) AS total_lag_us FROM j
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), 'click', COUNT(t2), CAST(COALESCE(SUM(t2 - t1), 0) AS BIGINT) FROM j
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), 'purchase', COUNT(t3), CAST(COALESCE(SUM(t3 - t2), 0) AS BIGINT) FROM j
      |ORDER BY stage""".stripMargin

  /** q139 — 2-core of the near-dup similarity graph
    * ([[graft.operators.Graph.kCore]] over
    * [[Similarity.nearDupPairs]]' exact decimal cosine ≥ 0.35 pairs):
    * iterated peeling to fixpoint strips every star and transitive
    * drift chain, leaving exactly the cycle-containing clusters — the
    * subgraph where "near-duplicate" is structurally corroborated by
    * more than one path, [[graft.operators.Graph.triangleCounts]]'
    * set-level complement (q118). Survivors with in-core degree,
    * 37 nodes at sf0.01 (peel depth 9; the operator proves fixpoint
    * or throws). Verify enforces non-emptiness (the q99 lesson).
    */
  val q139KCore: Q = (s, d) => {
    val pairs = Similarity
      .nearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.35)
      .select(col("vec_a"), col("vec_b"))
    graft.operators.Graph.kCore(pairs, k = 2, maxRounds = 12).orderBy(col("node"))
  }

  /** Oracle: the same decimal cosine pair build, then the peel
    * recurrence unrolled to the operator's `maxRounds` — rounds past
    * the fixpoint are no-ops, so a fixed unroll ≥ the true depth
    * reproduces the fixpoint exactly. Every CTE is MATERIALIZED:
    * DuckDB inlines CTEs by default, and with `e` referenced twice
    * per round the O(n²) pair build would re-inline 26× (measured:
    * fd exhaustion before it even got slow).
    */
  val q139Sql: String = {
    val rounds = (1 to 12)
      .map { i =>
        s"""a$i AS MATERIALIZED (SELECT e.src AS node, COUNT(*) AS deg FROM e
      |       JOIN a${i - 1} s ON s.node = e.src JOIN a${i - 1} t ON t.node = e.dst
      |       GROUP BY 1 HAVING COUNT(*) >= 2)"""
      }
      .mkString(",\n      |")
    s"""WITH x AS MATERIALIZED (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding,1) AS pos FROM embeddings),
      |n AS MATERIALIZED (SELECT vec_id, CAST(SUM(CAST(CAST(v AS DOUBLE)*CAST(v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS sq
      |      FROM x GROUP BY vec_id),
      |dp AS MATERIALIZED (SELECT a.vec_id AS va, b.vec_id AS vb,
      |        CAST(SUM(CAST(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS dot
      |       FROM x a JOIN x b ON a.pos = b.pos AND a.vec_id < b.vec_id GROUP BY 1, 2),
      |pairs AS MATERIALIZED (SELECT va, vb FROM dp JOIN n na ON dp.va = na.vec_id JOIN n nb ON dp.vb = nb.vec_id
      |          WHERE dot/(sqrt(na.sq)*sqrt(nb.sq)) >= 0.35),
      |e AS MATERIALIZED (SELECT va AS src, vb AS dst FROM pairs UNION SELECT vb AS src, va AS dst FROM pairs),
      |a0 AS MATERIALIZED (SELECT src AS node FROM e GROUP BY 1),
      |$rounds
      |SELECT node, deg FROM a12 ORDER BY node NULLS FIRST""".stripMargin
  }

  /** q140 — HITS hubs & authorities ([[graft.operators.Graph.hits]],
    * 2 rounds, integer micro-units with max-rescaling) over the
    * DIRECTED customer→supplier trading graph: the mutual-
    * reinforcement pair q113's undirected PageRank can't express —
    * on the bipartite graph the roles split exactly (suppliers carry
    * authority, customers carry hubness). Top 10 of each role.
    */
  val q140Hits: Q = (s, d) => {
    val e = Tables
      .orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    val ha = graft.operators.Graph.hits(e, iterations = 2)
    val topA = ha
      .orderBy(col("auth").desc, col("node"))
      .limit(10)
      .select(lit("authority").as("role"), col("node"), col("auth").as("score"))
    val topH = ha
      .orderBy(col("hub").desc, col("node"))
      .limit(10)
      .select(lit("hub").as("role"), col("node"), col("hub").as("score"))
    topA.unionByName(topH).orderBy(col("role"), col("score").desc, col("node"))
  }

  /** Oracle: both alternating rounds unrolled — SUM widens to
    * HUGEINT, `//` floors like Spark's `div` on the non-negative
    * values here, and the max-rescale keeps every score an exact
    * integer (no L2-normalization sqrt for engines to disagree on).
    */
  val q140Sql: String = {
    def round(i: Int, prevHub: String): String =
      s"""ar$i AS (SELECT e.dst AS node, SUM($prevHub.hub) AS raw FROM e JOIN $prevHub ON $prevHub.node = e.src GROUP BY 1),
      |am$i AS (SELECT MAX(raw) AS mx FROM ar$i),
      |a$i AS (SELECT n.node, CAST(COALESCE((ar$i.raw * 1000000) // am$i.mx, 0) AS BIGINT) AS auth
      |        FROM nodes n LEFT JOIN ar$i ON ar$i.node = n.node, am$i),
      |hr$i AS (SELECT e.src AS node, SUM(a$i.auth) AS raw FROM e JOIN a$i ON a$i.node = e.dst GROUP BY 1),
      |hm$i AS (SELECT MAX(raw) AS mx FROM hr$i),
      |h$i AS (SELECT n.node, CAST(COALESCE((hr$i.raw * 1000000) // hm$i.mx, 0) AS BIGINT) AS hub
      |        FROM nodes n LEFT JOIN hr$i ON hr$i.node = n.node, hm$i)"""
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT (o_custkey * 2) AS src, ((l_suppkey * 2) + 1) AS dst
      |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
      |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes),
      |${round(1, "h0")},
      |${round(2, "h1")}
      |SELECT * FROM (
      |  (SELECT 'authority' AS role, node, auth AS score FROM a2 ORDER BY score DESC, node LIMIT 10)
      |  UNION ALL
      |  (SELECT 'hub' AS role, node, hub AS score FROM h2 ORDER BY score DESC, node LIMIT 10))
      |ORDER BY role NULLS FIRST, score DESC, node NULLS FIRST""".stripMargin
  }

  /** q141 — ingest-rate anomaly screen (pipeline observability, the
    * time-series sibling of q133's expectation suite): per-hour event
    * counts flagged when they deviate from the corpus mean by more
    * than 3σ. The z-test is carried entirely as the INTEGER
    * cross-product `(n·H − S)² > 9·(Q·H − S²)` (H hours, S = Σn,
    * Q = Σn² — multiply both sides of (n−μ)² > 9σ² by H²), so no
    * float mean/variance whose summation order engines could
    * disagree on — the q135 chi-square trick applied to variance.
    * 3 of 720 hours flag at sf0.01 (Verify enforces ≥ 1).
    *
    * Scale: one count agg keyed on hour + a 1-row broadcast totals
    * frame; the verdict is a projection. Long-safe to ~10¹⁸ in the
    * cross-products (Q·H at these grains is ≲ 10¹⁶; a 100 TB
    * deployment re-grains to minutes or routes through DECIMAL).
    */
  val q141Anomaly: Q = (s, d) => {
    val hours = Tables
      .events(s, d)
      .select(expr("ts_us div 3600000000").as("hour"))
      .groupBy(col("hour"))
      .agg(count(lit(1)).as("n"))
    val tot = hours.agg(
      count(lit(1)).as("h"),
      sum(col("n")).as("s"),
      sum(col("n") * col("n")).as("q"))
    hours
      .crossJoin(broadcast(tot))
      .select(
        col("hour"),
        col("n"),
        ((col("n") * col("h") - col("s")) * (col("n") * col("h") - col("s"))).as("lhs"),
        (lit(9L) * (col("q") * col("h") - col("s") * col("s"))).as("rhs"))
      .withColumn("flagged", col("lhs") > col("rhs"))
      .orderBy(col("hour"))
  }

  /** Oracle: identical integer cross-products (HUGEINT intermediates
    * cast back to BIGINT).
    */
  val q141Sql: String =
    """WITH hr AS (SELECT (epoch_us(ts) // 3600000000) AS hour, COUNT(*) AS n
      |            FROM events GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS h, SUM(n) AS s, SUM(n * n) AS q FROM hr)
      |SELECT hour, n,
      |       CAST(((n * h) - s) * ((n * h) - s) AS BIGINT) AS lhs,
      |       CAST(9 * ((q * h) - (s * s)) AS BIGINT) AS rhs,
      |       ((((n * h) - s) * ((n * h) - s)) > (9 * ((q * h) - (s * s)))) AS flagged
      |FROM hr, tot
      |ORDER BY hour NULLS FIRST""".stripMargin

  /** q142 — embedding Gram matrix (Σᵢ vᵢ·vᵢᵀ, upper triangle) — the
    * covariance/PCA prep stage of embedding-space curation, and the
    * input a JL-projected (q128) or IVF-clustered (q76) corpus is
    * eventually whitened against. Decimal-exact: each product is the
    * engine-parity double→decimal element, summed in DECIMAL and
    * divided never.
    *
    * Scale shape: the per-row outer product comes from TWO stacked
    * generates over the SAME row (no self-join — a vec_id-keyed
    * self-join would shuffle the corpus and fan out 4096× through the
    * exchange); the only shuffle is the final agg on (p, q), 2 080
    * keys at dim 64, map-side combined. This is the one-pass
    * distributed Gram shape that survives a 100 TB corpus.
    */
  val q142Gram: Q = (s, d) =>
    Tables
      .embeddings(s, d)
      .select(col("embedding"), posexplode(col("embedding")).as(Seq("p", "va")))
      .select(col("p"), col("va"), posexplode(col("embedding")).as(Seq("q", "vb")))
      .filter(col("p") <= col("q"))
      .groupBy(col("p"), col("q"))
      .agg(
        sum((col("va").cast("double") * col("vb").cast("double")).cast("decimal(28,10)"))
          .cast("double")
          .as("g"))
      .orderBy(col("p"), col("q"))

  /** Oracle: same per-element decimal products; `generate_subscripts`
    * is 1-based where `posexplode` is 0-based, so it shifts.
    */
  val q142Sql: String =
    """WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
      |                  (generate_subscripts(embedding, 1) - 1) AS pos
      |           FROM embeddings)
      |SELECT a.pos AS p, b.pos AS q,
      |       CAST(SUM(CAST(a.v * b.v AS DECIMAL(28,10))) AS DOUBLE) AS g
      |FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.pos <= b.pos
      |GROUP BY 1, 2
      |ORDER BY p NULLS FIRST, q NULLS FIRST""".stripMargin

  /** q143 — referential-integrity conformance audit (the
    * cross-TABLE complement of q133's single-table expectation
    * suite): for every declared FK edge of the star schema plus the
    * events→customer bridge, the row count, null-FK count, and
    * orphan count (non-null FK with no parent). Orphans are
    * LEFT-ANTI joins — at 100 TB each parent key set is the small
    * broadcast side, and the audits are independent scans that never
    * shuffle the fact tables.
    */
  val q143FkAudit: Q = (s, d) => {
    def audit(
        name: String,
        child: org.apache.spark.sql.DataFrame,
        key: String,
        parent: org.apache.spark.sql.DataFrame,
        pkey: String): org.apache.spark.sql.DataFrame = {
      // ONE child scan per relation (r16): the old shape ran a count
      // aggregate AND a broadcast anti-join over the same child — two
      // full scans each, 6 of lineitem alone across its 3 relations
      // (16 child scans / 80 Exchanges total in the static plan). A
      // left-outer broadcast join against the distinct parent keys
      // preserves exactly one row per child row (pk is distinct), so
      // all three counters fold into one aggregate over one scan:
      // orphan ⇔ fk non-null with no pk match. Identical counts.
      child
        .select(col(key).as("fk"))
        .join(broadcast(parent.select(col(pkey).as("pk")).distinct()), col("fk") === col("pk"), "left_outer")
        .agg(
          count(lit(1)).as("n_rows"),
          count(when(col("fk").isNull, 1)).as("n_null_fk"),
          count(when(col("fk").isNotNull && col("pk").isNull, 1)).as("n_orphans"))
        .select(lit(name).as("relation"), col("n_rows"), col("n_null_fk"), col("n_orphans"))
    }
    Seq(
      audit("customer.c_nationkey->nation", Tables.customer(s, d), "c_nationkey", Tables.nation(s, d), "n_nationkey"),
      audit("events.user_id->customer", Tables.events(s, d), "user_id", Tables.customer(s, d), "c_custkey"),
      audit("lineitem.l_orderkey->orders", Tables.lineitem(s, d), "l_orderkey", Tables.orders(s, d), "o_orderkey"),
      audit("lineitem.l_partkey->part", Tables.lineitem(s, d), "l_partkey", Tables.part(s, d), "p_partkey"),
      audit("lineitem.l_suppkey->supplier", Tables.lineitem(s, d), "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
      audit("nation.n_regionkey->region", Tables.nation(s, d), "n_regionkey", Tables.region(s, d), "r_regionkey"),
      audit("orders.o_custkey->customer", Tables.orders(s, d), "o_custkey", Tables.customer(s, d), "c_custkey"),
      audit("supplier.s_nationkey->nation", Tables.supplier(s, d), "s_nationkey", Tables.nation(s, d), "n_nationkey"))
      .reduce(_.unionByName(_))
      .orderBy(col("relation"))
  }

  /** Oracle: per-relation scalar subqueries; orphan = non-null FK
    * whose parent-side key is absent.
    */
  val q143Sql: String = {
    def block(name: String, child: String, key: String, parent: String, pkey: String): String =
      s"""SELECT '$name' AS relation,
      |  (SELECT COUNT(*) FROM $child) AS n_rows,
      |  (SELECT COUNT(*) FROM $child WHERE $key IS NULL) AS n_null_fk,
      |  (SELECT COUNT(*) FROM $child c LEFT JOIN (SELECT DISTINCT $pkey FROM $parent) p
      |     ON p.$pkey = c.$key WHERE c.$key IS NOT NULL AND p.$pkey IS NULL) AS n_orphans"""
    Seq(
      block("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      block("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
      block("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      block("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      block("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      block("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
      block("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      block("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .mkString("", "\n      |UNION ALL\n      |", "\n      |ORDER BY relation NULLS FIRST")
      .stripMargin
  }

  /** q144 — per-language curriculum decile binning: every document
    * assigned its token-count decile WITHIN its language (the
    * short-to-long curriculum bucketing stage; per-language so one
    * verbose language doesn't monopolize the late buckets). Nine
    * boundaries from [[Relational.groupedDiscreteQuantiles]]
    * (discrete order statistics — actual data values, no
    * interpolation for engines to round differently), broadcast
    * back; the bin is `1 + #(boundaries < n_tok)`, so ties land in
    * the lowest containing bin — integer-exact end to end, and NO
    * corpus-grain Window (the oracle's ROW_NUMBER plan is what this
    * shape avoids at 100 TB).
    */
  val q144Deciles: Q = (s, d) => {
    val sc = Tables
      .documents(s, d)
      // readable rows only (NULL token counts rank-order engine-divergently)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"), TextAnalysis.wsTokenCount(col("text")).as("n_tok"))
    val qs = Relational.groupedDiscreteQuantiles(
      sc.select(col("lang"), col("n_tok")),
      "lang",
      "n_tok",
      (1 to 9).map(_ / 10.0),
      numPartitions = 32)
    val bin = (0 to 8)
      .map(i => when(col(s"q$i") < col("n_tok"), 1L).otherwise(0L))
      .reduce(_ + _) + lit(1L)
    sc.join(broadcast(qs), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_tok"), bin.as("decile"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: q103's window-rank ⌈n·p⌉ quantiles at the nine decile
    * points, then the same strictly-less boundary count.
    */
  val q144Sql: String = {
    val bounds = (1 to 9)
      .map(i => s"MAX(CASE WHEN rn = CAST(CEIL(n * 0.$i) AS BIGINT) THEN n_tok END) AS b$i")
      .mkString(",\n      |  ")
    val cases = (1 to 9)
      .map(i => s"(CASE WHEN t.n_tok > qs.b$i THEN 1 ELSE 0 END)")
      .mkString("\n      |   + ")
    s"""WITH t AS (SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |           FROM documents WHERE text IS NOT NULL),
      |r AS (SELECT lang, n_tok,
      |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_tok) AS rn,
      |        COUNT(*) OVER (PARTITION BY lang) AS n
      |      FROM t),
      |qs AS (SELECT lang,
      |  $bounds
      | FROM r GROUP BY lang)
      |SELECT t.doc_id, t.lang, t.n_tok, CAST(1 +
      |  $cases
      |  AS BIGINT) AS decile
      |FROM t JOIN qs ON qs.lang = t.lang
      |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  /** q145 — sorted-neighborhood dedup candidates (Hernández &
    * Stolfo 1995 — the THIRD candidate-generation family beside
    * hash-bucketed LSH (q20/q21) and content fingerprints (q79):
    * sort the corpus by a cheap blocking key, pair each record with
    * its w nearest neighbors in that order). The global order comes
    * from [[Relational.globalRowNumber]] (per-partition offsets, NO
    * Window; rerun-deterministic via its all-column tiebreak), and
    * the w-adjacency join is the block trick: rank-block `rn div w`
    * plus the predecessor block makes every pair distance ≤ w an
    * EQUI-join hit exactly once — no inequality-only join, no
    * corpus² pair space, the property that holds at 100 TB.
    */
  val q145SortedNeighbors: Q = (s, d) => {
    val w = 3
    // ASCII-only case fold via translate: Spark's lower() applies
    // full Unicode case mapping (U+0130 'İ' EXPANDS to i+combining
    // dot) while DuckDB's lower() uses the simple mapping ('i') —
    // keys containing such characters would sort differently and
    // reorder the global numbering. translate's 1:1 code-point map
    // is bit-identical across both engines on ANY input.
    val keyed = Tables
      .documents(s, d)
      .select(
        translate(
          substring(col("text"), 1, 16),
          "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
          "abcdefghijklmnopqrstuvwxyz").as("k"),
        col("doc_id"))
    val rn = Relational.globalRowNumber(keyed, "k", numPartitions = 32, outCol = "rn")
    val left = rn.select(col("rn").as("ra"), col("doc_id").as("da"), expr(s"rn div $w").as("blk"))
    val right = rn.select(
      col("rn").as("rb"),
      col("doc_id").as("db"),
      explode(array(expr(s"rn div $w"), expr(s"rn div $w - 1"))).as("blk"))
    left
      .join(right, Seq("blk"))
      .filter(col("rb") > col("ra") && col("rb") - col("ra") <= w)
      .select(col("ra"), col("rb"), col("da"), col("db"))
      .orderBy(col("ra"), col("rb"))
  }

  /** Oracle: the same (key, doc_id) total order as one ROW_NUMBER —
    * the driver-side spec of what the distributed numbering must
    * reproduce — then the rank-distance band as a plain join.
    */
  val q145Sql: String =
    """WITH t AS (SELECT translate(substr(text, 1, 16),
      |                            'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
      |                            'abcdefghijklmnopqrstuvwxyz') AS k,
      |                  doc_id FROM documents),
      |r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY k NULLS FIRST, doc_id) AS rn FROM t)
      |SELECT a.rn AS ra, b.rn AS rb, a.doc_id AS da, b.doc_id AS db
      |FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3
      |ORDER BY ra NULLS FIRST, rb NULLS FIRST""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q136_cms_freq", q136Cms, q136Sql),
    Query("q137_rrf_fusion", q137Rrf, q137Sql),
    Query("q138_event_funnel", q138Funnel, q138Sql),
    Query("q139_kcore", q139KCore, q139Sql),
    Query("q140_hits", q140Hits, q140Sql),
    Query("q141_ingest_anomaly", q141Anomaly, q141Sql),
    Query("q142_gram_matrix", q142Gram, q142Sql),
    Query("q143_fk_audit", q143FkAudit, q143Sql),
    Query("q144_curriculum_deciles", q144Deciles, q144Sql),
    Query("q145_sorted_neighbors", q145SortedNeighbors, q145Sql))
}
