package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Bipartite, Coverage, Graph, Similarity}
import graft.queries.CoreQueries.Q

/** Round-8 affinity/distance/selection batch:
  *
  *  - q146 market-basket co-purchase lift (parts co-ordered in the
  *    same order, support-filtered, integer lift_ppm — the item-item
  *    affinity mining q109 does for word bigrams, lifted to the
  *    transactional star schema);
  *  - q147 time-decay engagement scoring (per-user freshness-weighted
  *    value sums with EXACT power-of-two day weights — the recency
  *    prior reweighting schemes need, with none of the float-exp
  *    cross-engine drift);
  *  - q148 multi-source BFS hop distance over the near-dup graph
  *    ([[graft.operators.Graph.bfsDistances]] — hops to the nearest
  *    trusted seed, the DISTANCE analogue of q115 TrustRank's mass
  *    propagation, recursive-CTE oracle);
  *  - q149 greedy maximum-coverage corpus selection
  *    ([[graft.operators.Coverage.greedyMaxCoverage]] — submodular
  *    diversity pick the per-document scorers q119–q127 can't
  *    express; k-step unrolled oracle).
  *
  * Same determinism contract as the rest of the catalog: integer
  * counts/weights/ranks, `div`-vs-`//` on non-negative operands only,
  * ties always broken by unique ids.
  */
object AffinityQueries {

  /** q146 — co-purchase lift: distinct (order, part) incidence
    * self-joined on the order key (`pa < pb` halves the pair space),
    * support floor 3, lift in exact parts-per-million:
    * `(n_ab · N_orders · 10^6) div (n_a · n_b)`. Top 25 by lift.
    *
    * Scale shape: the pairing is [[graft.operators.Bipartite.pairProjection]]
    * — co-located self-join on the order key (baskets are small, the
    * per-order fan-out is C(items,2) with items ≈ 4) behind the
    * operator's per-key incidence gate, which throws if any basket
    * exceeds `maxKeyRows` before the quadratic step runs; counts are
    * map-side-combined aggs; the per-part counts and the 1-row order
    * total join back broadcast. No step is quadratic in parts or
    * orders, and a degenerate hub basket fails loudly.
    */
  val q146CoPurchase: Q = (s, d) => {
    val b = Tables
      .lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val nOrders = b.agg(countDistinct(col("ok")).as("n_orders"))
    val perPart = b.groupBy(col("pk")).agg(count(lit(1)).as("n"))
    val pairs = Bipartite
      .pairProjection(b, "ok", "pk", minSupport = 3)
      .select(col("item_a").as("pa"), col("item_b").as("pb"), col("w").as("n_ab"))
    pairs
      .join(broadcast(perPart.select(col("pk").as("pa"), col("n").as("n_a"))), Seq("pa"))
      .join(broadcast(perPart.select(col("pk").as("pb"), col("n").as("n_b"))), Seq("pb"))
      .crossJoin(broadcast(nOrders))
      .select(
        col("pa"),
        col("pb"),
        col("n_ab"),
        expr("(n_ab * n_orders * 1000000) div (n_a * n_b)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("pa"), col("pb"))
      .limit(25)
  }

  val q146Sql: String =
    """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM b),
      |c AS (SELECT pk, COUNT(*) AS cnt FROM b GROUP BY 1),
      |p AS (SELECT a.pk AS pa, bb.pk AS pb, COUNT(*) AS n_ab
      |      FROM b a JOIN b bb ON a.ok = bb.ok AND a.pk < bb.pk
      |      GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      |SELECT pa, pb, n_ab,
      |       (n_ab * n.n_orders * 1000000) // (ca.cnt * cb.cnt) AS lift_ppm
      |FROM p JOIN c ca ON ca.pk = p.pa JOIN c cb ON cb.pk = p.pb, n
      |ORDER BY lift_ppm DESC, pa, pb LIMIT 25""".stripMargin

  /** q147 — time-decay engagement: per-user sum of event values
    * weighted by 2^(29 − day) (day 0 = 2024-01-01, the generator's
    * fixed window; out-of-window events are excluded, documented).
    * Cents × power-of-two weights keep every product and sum an exact
    * BIGINT — no float exp, no addition-order sensitivity, identical
    * in any engine under any partitioning. Top 20 users.
    */
  val q147DecayScore: Q = (s, d) => {
    val day = expr("(ts_us - 1704067200000000) div 86400000000")
    Tables
      .events(s, d)
      // Pre-anchor guard BEFORE the division: Spark `div` truncates
      // toward zero while DuckDB `//` floors, so a ts in the 24h
      // before the anchor lands on day 0 here but day -1 in the
      // oracle. Filtering the raw timestamp first keeps the division
      // operand non-negative on both engines (the file's div-vs-//
      // contract); the same WHERE guards the oracle.
      .filter(col("ts_us") >= 1704067200000000L)
      .withColumn("day", day)
      .filter(col("day").between(0, 29))
      .withColumn("w", expr("shiftleft(CAST(1 AS BIGINT), CAST(29 - day AS INT))"))
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy(col("user_id"))
      .agg(sum(col("cents") * col("w")).as("decay_score"), count(lit(1)).as("n_events"))
      .orderBy(col("decay_score").desc, col("user_id"))
      .limit(20)
  }

  val q147Sql: String =
    """WITH e AS (SELECT user_id, value,
      |                  (epoch_us(ts) - 1704067200000000) // 86400000000 AS day
      |           FROM events WHERE epoch_us(ts) >= 1704067200000000),
      |w AS (SELECT user_id,
      |             CAST(round(value * 100) AS BIGINT)
      |               * (CAST(1 AS BIGINT) << CAST(29 - day AS INTEGER)) AS wv
      |      FROM e WHERE day BETWEEN 0 AND 29)
      |SELECT user_id, CAST(SUM(wv) AS BIGINT) AS decay_score, COUNT(*) AS n_events
      |FROM w GROUP BY 1 ORDER BY decay_score DESC, user_id LIMIT 20""".stripMargin

  /** q148 — hops to the nearest trusted document over the near-dup
    * similarity graph ([[Similarity.nearDupPairs]] ≥ 0.35, the q139
    * edge build): seeds are every 7th vector, frontier BFS to 6 hops.
    * Verify enforces ≥ 1 non-seed reached (dist ≥ 1) — the q99
    * non-vacuity lesson.
    */
  val q148BfsDist: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val pairs = Similarity
      .nearDupPairs(emb, "vec_id", "embedding", threshold = 0.35)
      .select(col("vec_a"), col("vec_b"))
    val seeds = emb.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
    Graph.bfsDistances(pairs, seeds, maxHops = 6).orderBy(col("node"))
  }

  /** Oracle: the q139 pair build + a recursive min-hop CTE (the same
    * WITH RECURSIVE discipline as q51's components oracle; UNION
    * dedups (node, dist) states so the recursion is finite).
    */
  val q148Sql: String =
    """WITH RECURSIVE
      |x AS MATERIALIZED (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding,1) AS pos FROM embeddings),
      |n AS MATERIALIZED (SELECT vec_id, CAST(SUM(CAST(CAST(v AS DOUBLE)*CAST(v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS sq
      |      FROM x GROUP BY vec_id),
      |dp AS MATERIALIZED (SELECT a.vec_id AS va, b.vec_id AS vb,
      |        CAST(SUM(CAST(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS dot
      |       FROM x a JOIN x b ON a.pos = b.pos AND a.vec_id < b.vec_id GROUP BY 1, 2),
      |pairs AS MATERIALIZED (SELECT va, vb FROM dp JOIN n na ON dp.va = na.vec_id JOIN n nb ON dp.vb = nb.vec_id
      |          WHERE dot/(sqrt(na.sq)*sqrt(nb.sq)) >= 0.35),
      |e AS MATERIALIZED (SELECT va AS src, vb AS dst FROM pairs UNION SELECT vb AS src, va AS dst FROM pairs),
      |seeds AS MATERIALIZED (SELECT vec_id AS node FROM embeddings WHERE vec_id % 7 = 0),
      |bfs AS (SELECT node, 0 AS dist FROM seeds
      |        UNION
      |        SELECT e.dst, b.dist + 1 FROM bfs b JOIN e ON e.src = b.node WHERE b.dist < 6)
      |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM bfs GROUP BY 1
      |ORDER BY node NULLS FIRST""".stripMargin

  /** q149 — greedy maximum-coverage selection: pick 5 documents
    * maximizing cumulative distinct-token coverage
    * ([[Coverage.greedyMaxCoverage]]; whitespace tokens, the corpus
    * convention). The oracle unrolls the same 5 greedy steps with the
    * identical (gain DESC, doc) tie-break.
    */
  val q149GreedyCover: Q = (s, d) => {
    val items = Tables
      .documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("item"))
    Coverage.greedyMaxCoverage(items, k = 5).orderBy(col("step"))
  }

  val q149Sql: String = {
    val steps = (1 to 5).map { i =>
      val prior = (1 until i).map(j => s"SELECT doc FROM p$j").mkString(" UNION ALL ")
      val notPicked = if (i == 1) "" else s"WHERE d.doc NOT IN ($prior)"
      val uncovered =
        if (i == 1) "w"
        else s"(SELECT w.doc, w.item FROM w WHERE w.item NOT IN (SELECT item FROM c${i - 1}))"
      val cover =
        s"""c$i AS MATERIALIZED (SELECT DISTINCT w.item FROM w
      |      WHERE w.doc IN (${(1 to i).map(j => s"SELECT doc FROM p$j").mkString(" UNION ALL ")}))"""
      s"""p$i AS MATERIALIZED (SELECT d.doc, COALESCE(g.gain, 0) AS gain
      |      FROM docs d LEFT JOIN (SELECT doc, COUNT(*) AS gain FROM $uncovered u GROUP BY 1) g
      |      ON g.doc = d.doc $notPicked ORDER BY gain DESC, d.doc LIMIT 1),
      |$cover"""
    }.mkString(",\n      |")
    val rows = (1 to 5).map { i =>
      val cum = (1 to i).map(j => s"(SELECT gain FROM p$j)").mkString(" + ")
      s"SELECT CAST($i AS BIGINT) AS step, doc AS doc_id, CAST(gain AS BIGINT) AS new_items, CAST($cum AS BIGINT) AS cum_items FROM p$i"
    }.mkString("\n      |UNION ALL\n      |")
    s"""WITH w0 AS MATERIALIZED (SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS item FROM documents),
      |w AS MATERIALIZED (SELECT DISTINCT doc, item FROM w0),
      |docs AS MATERIALIZED (SELECT DISTINCT doc FROM w),
      |$steps
      |$rows
      |ORDER BY step""".stripMargin
  }

  /** q150 — supplier influence via one-mode bipartite projection:
    * the customer→supplier incidence projects onto supplier–supplier
    * co-supply edges (weight = shared customers, support floor 5 —
    * the q146 affinity move applied to the OTHER side of the basket),
    * then 2 rounds of weighted integer PageRank rank the suppliers.
    * The composition q116 can't see: centrality over a DERIVED graph,
    * not the raw incidence. Same ¼ order slice as q116 (the gate's
    * value is the projection + weighted-split arithmetic).
    *
    * Scale shape: the projection self-join is co-located on the
    * customer key (per-customer supplier sets are small — the
    * fan-out is C(set, 2)); the floor prunes before the PageRank
    * loop's one-shuffle rounds.
    */
  /** Distinct (customer, supplier) incidence on the ¼ order slice —
    * the base q150 and q151 project from (q156 builds its own
    * three-column variant carrying the order-date day, so it cannot
    * share this frame).
    */
  private def coSupplyIncidence(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables
      .orders(s, d)
      .filter(col("o_orderkey") % 4 === 0)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
      .distinct()

  /** Supplier co-supply pairs (sa < sb) with shared-customer weight,
    * support floor 5 — ONE definition for the q150/q151 graph builds
    * so the two queries cannot gate against diverging projections.
    * Delegates to [[graft.operators.Bipartite.pairProjection]], whose
    * per-customer incidence gate throws before the quadratic fan-out
    * if a hub customer exceeds `maxKeyRows` suppliers.
    */
  private def coSupplyPairs(
      cs: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, () => Unit) = {
    val (pairs, release) = Bipartite.pairProjectionReleasable(cs, "c", "sk", minSupport = 5)
    (pairs.select(col("item_a").as("sa"), col("item_b").as("sb"), col("w")), release)
  }

  val q150CoSupplyRank: Q = (s, d) => {
    val (pairs, release) = coSupplyPairs(coSupplyIncidence(s, d))
    val proj = pairs.select(col("sa").as("src"), col("sb").as("dst"), col("w"))
    // integerPageRank materializes the edge list into its own leaf at
    // call time, so the projection's incidence cache can release here
    // instead of lingering until the session sweep (r10 ADVICE).
    try Graph
      .integerPageRank(proj, iterations = 2, undirected = true, weightCol = Some("w"))
      .select(col("node").as("supplier"), col("rank"))
      .orderBy(col("rank").desc, col("supplier"))
      .limit(15)
    finally release()
  }

  /** Oracle: q116's weighted-round chain over the projected edge
    * list (HUGEINT `(r·w) // Σw`, 2 unrolled rounds).
    */
  /** Shared CTE prefix (declared before both consumers — vals
    * initialize in order): the ¼-slice incidence and the
    * support-5 weighted pair projection, the SQL twin of
    * [[coSupplyIncidence]]+[[coSupplyPairs]].
    */
  private val coSupplyPairCtes: String =
    """cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s FROM orders
      |            JOIN lineitem ON l_orderkey = o_orderkey WHERE (o_orderkey % 4) = 0),
      |pw AS (SELECT a.s AS sa, b.s AS sb, COUNT(*) AS w FROM cs a
      |       JOIN cs b ON a.c = b.c AND a.s < b.s GROUP BY 1, 2 HAVING COUNT(*) >= 5)""".stripMargin

  val q150Sql: String =
    s"""WITH $coSupplyPairCtes,
      |e AS (SELECT sa AS src, sb AS dst, w FROM pw UNION ALL SELECT sb AS src, sa AS dst, w FROM pw),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
      |ws AS (SELECT src AS node, SUM(w) AS wsum FROM e GROUP BY 1),
      |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
      |s1 AS (SELECT e.dst AS node, SUM((CAST(r0.r AS HUGEINT) * e.w) // ws.wsum) AS csum
      |       FROM e JOIN ws ON ws.node = e.src JOIN r0 ON r0.node = e.src GROUP BY 1),
      |r1 AS (SELECT n.node, CAST(150000 + ((85 * COALESCE(s1.csum, 0)) // 100) AS BIGINT) AS r
      |       FROM nodes n LEFT JOIN s1 ON s1.node = n.node),
      |s2 AS (SELECT e.dst AS node, SUM((CAST(r1.r AS HUGEINT) * e.w) // ws.wsum) AS csum
      |       FROM e JOIN ws ON ws.node = e.src JOIN r1 ON r1.node = e.src GROUP BY 1),
      |r2 AS (SELECT n.node, CAST(150000 + ((85 * COALESCE(s2.csum, 0)) // 100) AS BIGINT) AS r
      |       FROM nodes n LEFT JOIN s2 ON s2.node = n.node)
      |SELECT node AS supplier, r AS rank FROM r2
      |ORDER BY rank DESC NULLS FIRST, supplier NULLS FIRST LIMIT 15""".stripMargin

  /** Shared CTE prefix: the ¼-slice co-supply projection (q150's
    * edge build) with the affinity→cost inversion
    * `greatest(1, 1000 div w)` used by the weighted-distance gate —
    * clamped so a pair sharing > 1000 customers at larger scale
    * factors can't truncate to cost 0 (the operator now rejects
    * non-positive costs).
    */
  private val coSupplyCostCtes: String =
    s"""$coSupplyPairCtes,
      |pc AS (SELECT sa, sb, GREATEST(1, 1000 // w) AS cost FROM pw),
      |e AS (SELECT sa AS src, sb AS dst, cost FROM pc UNION ALL SELECT sb, sa, cost FROM pc)""".stripMargin

  /** q151 — weighted trust distance ([[Graph.weightedDistances]]):
    * min-plus relaxation over the q150 co-supply projection with
    * affinity INVERTED to integer cost (`greatest(1, 1000 div w)` — heavily
    * co-supplying pairs are "close"), 4 rounds from the every-10th
    * supplier seed set. The Bellman-Ford complement of q148's hop
    * BFS: a 3-hop chain of strong partners can be closer than one
    * weak direct edge — distance ≠ adjacency.
    */
  val q151TrustDist: Q = (s, d) => {
    val cs = coSupplyIncidence(s, d)
    val (pairs, release) = coSupplyPairs(cs)
    val proj = pairs
      .select(col("sa"), col("sb"), expr("greatest(1, 1000 div w)").as("cost"))
    val seeds = cs.select(col("sk")).distinct().filter(col("sk") % 10 === 0)
    // weightedDistances leaf-materializes the edges at call time —
    // release the incidence cache as soon as it returns (r10 ADVICE).
    try Graph
      .weightedDistances(proj, seeds, rounds = 4)
      .orderBy(col("node"))
    finally release()
  }

  /** Oracle: 4 unrolled min-plus rounds over the same projected
    * cost edges (rounds past the fixpoint are no-ops, so a fixed
    * unroll ≥ the horizon reproduces the operator exactly).
    */
  val q151Sql: String = {
    val rounds = (1 to 4)
      .map { i =>
        s"""d$i AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
      |         SELECT node, dist FROM d${i - 1}
      |         UNION ALL
      |         SELECT e.dst AS node, p.dist + e.cost AS dist
      |         FROM e JOIN d${i - 1} p ON p.node = e.src) u GROUP BY 1)"""
      }
      .mkString(",\n      |")
    s"""WITH $coSupplyCostCtes,
      |seeds AS (SELECT DISTINCT s AS node FROM cs WHERE (s % 10) = 0),
      |d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds),
      |$rounds
      |SELECT node, dist FROM d4 ORDER BY node NULLS FIRST""".stripMargin
  }

  /** q152 — language-ID evaluation: per-class confusion counts and
    * exact-integer macro metrics for q26's predictor against the
    * stored labels — the model-eval primitive every curation
    * pipeline needs beside the scorers themselves. All arithmetic in
    * counts and ppm integer division: f1_ppm =
    * (2·tp·10⁶) div (n_actual + n_pred), denominator ≥ 1 for every
    * class by construction (a class exists only if predicted or
    * actual at least once).
    */
  val q152LangEval: Q = (s, d) => {
    import graft.operators.TextAnalysis._
    val p = Tables
      .documents(s, d)
      // classifier eval is over LABELED rows: an unlabeled (NULL-lang)
      // document has no truth to score against, and its NULL class
      // would join-drop on both engines into a 0/0 f1 division
      .filter(col("lang").isNotNull)
      .select(
        col("lang").as("actual"),
        predictLang(
          cjkCount(col("text")),
          markerHits(col("text"), markers("de")),
          markerHits(col("text"), markers("en")),
          markerHits(col("text"), markers("es")),
          markerHits(col("text"), markers("fr"))).as("predicted"))
      // four consumers below — pin the scored pass so the five
      // vocab-hit/CJK kernels run over the corpus ONCE (released by
      // the session sweep)
      .persist()
    val tp = p
      .filter(col("actual") === col("predicted"))
      .groupBy(col("actual").as("lang"))
      .agg(count(lit(1)).as("tp"))
    val na = p.groupBy(col("actual").as("lang")).agg(count(lit(1)).as("n_actual"))
    val np = p.groupBy(col("predicted").as("lang")).agg(count(lit(1)).as("n_pred"))
    // the class universe is derivable from the already-aggregated
    // per-class frames — no further corpus passes
    val classes = na
      .select(col("lang"))
      .unionByName(np.select(col("lang")))
      .distinct()
    classes
      .join(broadcast(tp), Seq("lang"), "left")
      .join(broadcast(na), Seq("lang"), "left")
      .join(broadcast(np), Seq("lang"), "left")
      .select(
        col("lang"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"))
      .withColumn("f1_ppm", expr("(2 * tp * 1000000) div (n_actual + n_pred)"))
      .orderBy(col("lang"))
  }

  val q152Sql: String =
    s"""WITH p AS (SELECT lang AS actual,
      | CASE WHEN cjk > 0 THEN 'zh'
      |      WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
      |      WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
      |      WHEN s_es >= s_fr THEN 'es'
      |      ELSE 'fr' END AS predicted
      |FROM (SELECT lang,
      |  CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS BIGINT) AS cjk,
      |  ${markerScoreSql("de")},
      |  ${markerScoreSql("en")},
      |  ${markerScoreSql("es")},
      |  ${markerScoreSql("fr")}
      | FROM documents WHERE lang IS NOT NULL)),
      |classes AS (SELECT actual AS lang FROM p UNION SELECT predicted FROM p),
      |tp AS (SELECT actual AS lang, COUNT(*) AS tp FROM p WHERE actual = predicted GROUP BY 1),
      |na AS (SELECT actual AS lang, COUNT(*) AS n_actual FROM p GROUP BY 1),
      |np AS (SELECT predicted AS lang, COUNT(*) AS n_pred FROM p GROUP BY 1)
      |SELECT c.lang, COALESCE(tp.tp, 0) AS tp, COALESCE(na.n_actual, 0) AS n_actual,
      |       COALESCE(np.n_pred, 0) AS n_pred,
      |       (2 * COALESCE(tp.tp, 0) * 1000000) // (COALESCE(na.n_actual, 0) + COALESCE(np.n_pred, 0)) AS f1_ppm
      |FROM classes c LEFT JOIN tp ON tp.lang = c.lang
      |LEFT JOIN na ON na.lang = c.lang LEFT JOIN np ON np.lang = c.lang
      |ORDER BY c.lang NULLS FIRST""".stripMargin

  private def markerScoreSql(l: String): String = {
    val inList = graft.operators.TextAnalysis.markers(l)
      .map(w => s"'$w'").mkString("(", ", ", ")")
    s"CAST(len(list_filter(string_split(text,' '), t -> t IN $inList)) AS BIGINT) AS s_$l"
  }

  /** q153 — token-mass-weighted length quantiles per language
    * ([[graft.operators.Relational.groupedWeightedQuantiles]]):
    * median and p90 of `n_chars` weighted by whitespace TOKEN COUNT —
    * "the length a typical TOKEN lives at", not "the typical
    * document" (one 100k-token doc outweighs a thousand stubs), the
    * statistic q144's count-based deciles can't express. Same
    * range-partitioned order-statistics plan, weight sums replacing
    * row counts; P·G driver bookkeeping only.
    */
  val q153WeightedQuantiles: Q = (s, d) => {
    import graft.operators.TextAnalysis.wsTokenCount
    val t = Tables
      .documents(s, d)
      // order statistics over READABLE rows only: a NULL text yields
      // NULL weight/value, whose rank order differs across engines
      // (the operator's null guard throws by design)
      .filter(col("text").isNotNull)
      .select(
        col("lang"),
        col("n_chars").cast("long").as("v"),
        wsTokenCount(col("text")).as("w"))
    graft.operators.Relational
      .groupedWeightedQuantiles(t, "lang", "v", "w", Seq(0.5, 0.9))
      .orderBy(col("lang"))
  }

  val q153Sql: String =
    """WITH t AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
      |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS w
      |           FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT lang, v,
      |        SUM(w) OVER (PARTITION BY lang ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |        SUM(w) OVER (PARTITION BY lang) AS tw FROM t)
      |SELECT lang,
      |  MIN(CASE WHEN cum >= CEIL(tw * 0.5) THEN v END) AS q0,
      |  MIN(CASE WHEN cum >= CEIL(tw * 0.9) THEN v END) AS q1
      |FROM c GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin

  /** q154 — predictor reliability curve: q26's language-ID margin
    * (top marker score − runner-up, clamped to 5; CJK hits get their
    * own bucket 6) against empirical accuracy per bucket — the
    * calibration diagnostic that tells a curation pipeline WHICH
    * confidence band of an heuristic classifier to trust, q152's
    * per-class complement. Counts and ppm integer division only; the
    * runner-up comes from the max-min lattice identity
    * `max2 = max(min(max(a,b),max(c,d)), max(min(a,b),min(c,d)))`,
    * exact in both engines.
    */
  val q154Calibration: Q = (s, d) => {
    import graft.operators.TextAnalysis._
    val scored = Tables
      .documents(s, d)
      .select(
        col("lang"),
        cjkCount(col("text")).as("cjk"),
        markerHits(col("text"), markers("de")).as("s_de"),
        markerHits(col("text"), markers("en")).as("s_en"),
        markerHits(col("text"), markers("es")).as("s_es"),
        markerHits(col("text"), markers("fr")).as("s_fr"))
      .withColumn(
        "predicted",
        predictLang(col("cjk"), col("s_de"), col("s_en"), col("s_es"), col("s_fr")))
      .withColumn("top1", greatest(col("s_de"), col("s_en"), col("s_es"), col("s_fr")))
      .withColumn(
        "top2",
        greatest(
          least(greatest(col("s_de"), col("s_en")), greatest(col("s_es"), col("s_fr"))),
          greatest(least(col("s_de"), col("s_en")), least(col("s_es"), col("s_fr")))))
      .withColumn(
        "bucket",
        when(col("cjk") > 0, lit(6L)).otherwise(least(col("top1") - col("top2"), lit(5L))))
      .withColumn("ok", when(col("predicted") === col("lang"), 1L).otherwise(0L))
    scored
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("ok")).as("n_correct"))
      .withColumn("acc_ppm", expr("(n_correct * 1000000) div n"))
      .orderBy(col("bucket"))
  }

  val q154Sql: String =
    s"""WITH s AS (SELECT lang,
      |  CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS BIGINT) AS cjk,
      |  ${markerScoreSql("de")},
      |  ${markerScoreSql("en")},
      |  ${markerScoreSql("es")},
      |  ${markerScoreSql("fr")}
      | FROM documents),
      |m AS (SELECT lang, cjk,
      |  CASE WHEN cjk > 0 THEN 'zh'
      |       WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
      |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
      |       WHEN s_es >= s_fr THEN 'es'
      |       ELSE 'fr' END AS predicted,
      |  GREATEST(s_de, s_en, s_es, s_fr) AS top1,
      |  GREATEST(LEAST(GREATEST(s_de, s_en), GREATEST(s_es, s_fr)),
      |           GREATEST(LEAST(s_de, s_en), LEAST(s_es, s_fr))) AS top2
      | FROM s),
      |b AS (SELECT CASE WHEN cjk > 0 THEN CAST(6 AS BIGINT)
      |                  ELSE LEAST(top1 - top2, 5) END AS bucket,
      |             CASE WHEN predicted = lang THEN 1 ELSE 0 END AS ok FROM m)
      |SELECT bucket, COUNT(*) AS n, CAST(SUM(ok) AS BIGINT) AS n_correct,
      |       CAST((SUM(ok) * 1000000) // COUNT(*) AS BIGINT) AS acc_ppm
      |FROM b GROUP BY 1 ORDER BY bucket NULLS FIRST""".stripMargin

  /** q155 — first-order event-type transition matrix: per-user
    * next-event pairs (LEAD over the user timeline — user_id is a
    * HIGH-cardinality partition key, so the window is shuffle-safe at
    * any scale, unlike a corpus-grain window) aggregated to Markov
    * transition counts with exact ppm row-normalized probabilities —
    * the sequence-modeling prior behind next-action prediction and
    * funnel simulation, q138's matrix-form complement. Tie order
    * within a timestamp pins to event_id, so the chain is
    * deterministic.
    */
  val q155Transitions: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val t = Tables
      .events(s, d)
      // a timeline transition needs a TIMED event on both ends; a NULL
      // ts would also order oppositely across engines (Spark NULLS
      // FIRST, DuckDB NULLS LAST — round-10 NULL-event-time fuzz probe)
      .filter(col("ts_us").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val rowTotals = t
      .groupBy(col("from_type"))
      .agg(sum(col("n")).as("row_n"))
    t.join(broadcast(rowTotals), Seq("from_type"))
      .select(
        col("from_type"),
        col("to_type"),
        col("n"),
        expr("(n * 1000000) div row_n").as("p_ppm"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val q155Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events WHERE ts IS NOT NULL),
      |s AS (SELECT user_id, event_type,
      |        LEAD(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_type
      |      FROM e),
      |t AS (SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      |      FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |r AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_n FROM t GROUP BY 1)
      |SELECT t.from_type, t.to_type, t.n, (t.n * 1000000) // r.row_n AS p_ppm
      |FROM t JOIN r ON r.from_type = t.from_type
      |ORDER BY t.from_type NULLS FIRST, t.to_type NULLS FIRST""".stripMargin

  /** q156 — time-respecting influence propagation
    * ([[graft.operators.Graph.earliestArrival]]): the temporal
    * co-supply projection (s1 → s2 at (dep, arr) when a shared
    * customer ordered from s1 on day `dep` and later from s2 on day
    * `arr`) relaxed 3 rounds from the every-10th-supplier seed set —
    * the earliest DAY influence/contamination could first have
    * reached each supplier through time-increasing order chains. The
    * temporal semantics q148/q151's static distances cannot express:
    * a path that departs before influence arrives carries nothing.
    * Seeds sit at arrival 0; all real arrivals are epoch days.
    */
  val q156TemporalReach: Q = (s, d) => {
    val cs = Tables
      .orders(s, d)
      .filter(col("o_orderkey") % 4 === 0)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(
        col("o_custkey").as("c"),
        col("l_suppkey").as("sk"),
        datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01"))).cast("long").as("day"))
      .distinct()
    // Guarded temporal projection: same per-customer fan-out gate as
    // the q150/q151 static pairs. Duplicate timed edges ride through
    // (earliestArrival's min-fold is duplicate-invariant; the
    // oracle's DISTINCT is its own engine's optimization only).
    val (te, release) = Bipartite.temporalPairProjectionReleasable(cs, "c", "sk", "day")
    val seeds = cs.select(col("sk")).distinct().filter(col("sk") % 10 === 0)
    // earliestArrival leaf-materializes the timed edges at call time —
    // release the incidence cache as soon as it returns (r10 ADVICE).
    try graft.operators.Graph
      .earliestArrival(te, seeds, rounds = 3)
      .orderBy(col("node"))
    finally release()
  }

  /** Oracle: the temporal projection + 3 unrolled earliest-arrival
    * rounds (min-fold with the departure guard; rounds past the
    * fixpoint are no-ops).
    */
  val q156Sql: String = {
    val steps = (1 to 3)
      .map { i =>
        s"""a$i AS MATERIALIZED (SELECT node, MIN(at) AS at FROM (
      |         SELECT node, at FROM a${i - 1}
      |         UNION ALL
      |         SELECT e.dst AS node, e.arr AS at
      |         FROM te e JOIN a${i - 1} p ON p.node = e.src WHERE e.dep >= p.at) u GROUP BY 1)"""
      }
      .mkString(",\n      |")
    s"""WITH cs AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey AS s,
      |            CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS d
      |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey WHERE (o_orderkey % 4) = 0),
      |te AS MATERIALIZED (SELECT DISTINCT a.s AS src, b.s AS dst, a.d AS dep, b.d AS arr
      |       FROM cs a JOIN cs b ON a.c = b.c AND b.d > a.d AND a.s <> b.s),
      |seeds AS (SELECT DISTINCT s AS node FROM cs WHERE (s % 10) = 0),
      |a0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS at FROM seeds),
      |$steps
      |SELECT node, at AS arrival FROM a3 ORDER BY node NULLS FIRST""".stripMargin
  }

  /** q157 — inter-arrival latency profile per event type: per-user
    * LAG deltas (high-cardinality user partition, shuffle-safe)
    * attributed to the arriving event's type, then discrete p50/p90
    * through [[graft.operators.Relational.groupedDiscreteQuantiles]]
    * — exactly the low-cardinality-group case the range-partitioned
    * order-statistics operator was built for (an event-type-grain
    * Window would funnel the corpus through 5 reducers). Microsecond
    * integers end to end.
    */
  val q157GapQuantiles: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val gaps = Tables
      .events(s, d)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(col("event_type"), (col("ts_us") - col("prev_us")).as("gap_us"))
    graft.operators.Relational
      .groupedDiscreteQuantiles(gaps, "event_type", "gap_us", Seq(0.5, 0.9))
      .select(col("event_type"), col("q0").as("p50_us"), col("q1").as("p90_us"))
      .orderBy(col("event_type"))
  }

  val q157Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
      |g AS (SELECT event_type,
      |        us - LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_us FROM e),
      |f AS (SELECT event_type, gap_us FROM g WHERE gap_us IS NOT NULL),
      |r AS (SELECT event_type, gap_us,
      |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY gap_us) AS rn,
      |        COUNT(*) OVER (PARTITION BY event_type) AS n FROM f)
      |SELECT event_type,
      | MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN gap_us END) AS p50_us,
      | MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT) THEN gap_us END) AS p90_us
      |FROM r GROUP BY 1 ORDER BY event_type NULLS FIRST""".stripMargin

  def queries: Seq[Query] = Seq(
    Query("q156_temporal_reach", q156TemporalReach, q156Sql),
    Query("q157_gap_quantiles", q157GapQuantiles, q157Sql),
    Query("q146_copurchase_lift", q146CoPurchase, q146Sql),
    Query("q147_decay_score", q147DecayScore, q147Sql),
    Query("q148_bfs_dist", q148BfsDist, q148Sql),
    Query("q149_greedy_cover", q149GreedyCover, q149Sql),
    Query("q150_cosupply_rank", q150CoSupplyRank, q150Sql),
    Query("q151_trust_dist", q151TrustDist, q151Sql),
    Query("q152_lang_eval", q152LangEval, q152Sql),
    Query("q153_weighted_quantiles", q153WeightedQuantiles, q153Sql),
    Query("q154_calibration", q154Calibration, q154Sql),
    Query("q155_event_transitions", q155Transitions, q155Sql))
}
