package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Graph, Relational}
import graft.queries.CoreQueries.Q

/** Round-8 surface — the graph-analytics family plus robust
  * dispersion, all deterministic by construction (integer micro-units,
  * integer argmax/counts, discrete order statistics):
  *
  *  - q113 integer-exact PageRank over the customer⟷supplier
  *    transaction graph (the link-graph quality prior);
  *  - q114 grouped median absolute deviation (outlier-resistant
  *    spread behind quality-score winsorization);
  *  - q115 seeded TrustRank (teleport mass only to a trusted
  *    whitelist — proximity-to-trusted-set curation);
  *  - q116 edge-weighted PageRank (mass splits by trade volume);
  *  - q117 semi-supervised label propagation (spread audited labels
  *    across the near-dup similarity graph);
  *  - q118 triangle-count cluster cohesion (clique-like true-dup
  *    clusters vs transitive drift chains).
  */
object Round8Queries {

  /** q113 — integer-exact PageRank ([[Graph.integerPageRank]]) over
    * the bipartite customer⟷supplier graph: an edge per DISTINCT
    * (customer, supplier) trading pair from orders⋈lineitem, fed
    * bidirectionally so mass flows both ways and no node dangles.
    * Node ids are namespaced (customer·2, supplier·2+1) to keep the
    * two keyspaces disjoint. Three damped rounds (d=0.85) in micro-
    * units; top 25 by (rank, node) — suppliers with many distinct
    * buyers float up, exactly the "centrality as a prior" shape.
    *
    * Scale: the edge build is a projected equi-join; each PageRank
    * round is one edge⋈rank shuffle + a map-side-combined sum. At
    * 100 TB the edge list is the big frame and it is persisted ONCE,
    * hash-partitioned on the join key every round reuses.
    */
  val q113PageRank: Q = (s, d) => {
    val e0 = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(
        (col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    // Unmirrored, undeduped pairs: `undirected = true` canonicalizes
    // and dedups ONCE inside the operator and mirrors from its cache —
    // pre-mirroring here would scan+join the fact tables twice and
    // push 2× the rows through the dedup shuffle.
    Graph
      .integerPageRank(e0, iterations = 3, undirected = true)
      .orderBy(col("rank").desc, col("node"))
      .limit(25)
  }

  /** Oracle: the same three integer rounds as chained CTEs — `//` is
    * floor division, identical to Spark's `div` on the non-negative
    * values here. Every `//`/`*` term parenthesized (user-level
    * operators are equal-precedence left-associative in Postgres-family
    * grammars). DuckDB's SUM(BIGINT) widens to HUGEINT, so each round
    * casts back to BIGINT after the damping update.
    */
  val q113Sql: String =
    """WITH e0 AS (SELECT DISTINCT (o_custkey * 2) AS src, ((l_suppkey * 2) + 1) AS dst
      |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
      |od AS (SELECT src AS node, COUNT(*) AS outdeg FROM e GROUP BY 1),
      |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
      |s1 AS (SELECT e.dst AS node, SUM(r0.r // od.outdeg) AS csum
      |       FROM e JOIN od ON od.node = e.src JOIN r0 ON r0.node = e.src GROUP BY 1),
      |r1 AS (SELECT n.node, CAST(150000 + ((85 * COALESCE(s1.csum, 0)) // 100) AS BIGINT) AS r
      |       FROM nodes n LEFT JOIN s1 ON s1.node = n.node),
      |s2 AS (SELECT e.dst AS node, SUM(r1.r // od.outdeg) AS csum
      |       FROM e JOIN od ON od.node = e.src JOIN r1 ON r1.node = e.src GROUP BY 1),
      |r2 AS (SELECT n.node, CAST(150000 + ((85 * COALESCE(s2.csum, 0)) // 100) AS BIGINT) AS r
      |       FROM nodes n LEFT JOIN s2 ON s2.node = n.node),
      |s3 AS (SELECT e.dst AS node, SUM(r2.r // od.outdeg) AS csum
      |       FROM e JOIN od ON od.node = e.src JOIN r2 ON r2.node = e.src GROUP BY 1),
      |r3 AS (SELECT n.node, CAST(150000 + ((85 * COALESCE(s3.csum, 0)) // 100) AS BIGINT) AS r
      |       FROM nodes n LEFT JOIN s3 ON s3.node = n.node)
      |SELECT node, r AS rank FROM r3
      |ORDER BY rank DESC NULLS FIRST, node NULLS FIRST LIMIT 25""".stripMargin

  /** q114 — grouped median absolute deviation over lineitem quantity:
    * per-group discrete median (type-1 order statistic, rank ⌈n/2⌉ —
    * [[Relational.groupedDiscreteQuantiles]], the q36 no-Window plan),
    * absolute deviations against the broadcast 3-row median table,
    * then the discrete median of the deviations. Interpolation-free on
    * purpose: both medians pick actual data values, so the result is
    * bit-identical across engines where continuous-percentile FP
    * formulas differ in the last ulp. Quantities are whole numbers
    * stored as doubles, so the deviations are exact.
    */
  val q114GroupedMad: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select(col("l_returnflag"), col("l_quantity"))
    val med = Relational
      .groupedDiscreteQuantiles(li, "l_returnflag", "l_quantity", Seq(0.5), numPartitions = 32)
      .withColumnRenamed("q0", "med")
    val dev = li
      .join(broadcast(med), Seq("l_returnflag"))
      .select(col("l_returnflag"), abs(col("l_quantity") - col("med")).as("dev"))
    val mad = Relational
      .groupedDiscreteQuantiles(dev, "l_returnflag", "dev", Seq(0.5), numPartitions = 32)
      .withColumnRenamed("q0", "mad")
    med
      .join(mad, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("med"), col("mad"))
      .orderBy(col("l_returnflag"))
  }

  /** Oracle: the q36 window formulation applied twice — rank ⌈n·0.5⌉
    * over the raw quantities for the median, then over the absolute
    * deviations for the MAD.
    */
  val q114Sql: String =
    """WITH m AS (
      |  SELECT l_returnflag,
      |    MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN l_quantity END) AS med
      |  FROM (SELECT l_returnflag, l_quantity,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |   FROM lineitem)
      |  GROUP BY l_returnflag),
      |dv AS (SELECT l.l_returnflag, ABS(l.l_quantity - m.med) AS dev
      |       FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag),
      |md AS (
      |  SELECT l_returnflag,
      |    MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN dev END) AS mad
      |  FROM (SELECT l_returnflag, dev,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY dev) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |   FROM dv)
      |  GROUP BY l_returnflag)
      |SELECT m.l_returnflag, m.med, md.mad
      |FROM m JOIN md ON m.l_returnflag = md.l_returnflag
      |ORDER BY m.l_returnflag NULLS FIRST""".stripMargin

  /** q115 — TrustRank ([[Graph.integerPageRank]] with `seeds`): the
    * seed-propagation curation prior — start all mass on a trusted
    * whitelist (suppliers from nations 0–4 here) and let three damped
    * rounds carry trust across the transaction graph; report the 25
    * most-trusted CUSTOMERS, i.e. nodes that earned rank purely
    * through links (non-seeds get NO teleport mass). Same integer
    * micro-unit arithmetic as q113, so the ranking is bit-exact.
    * Gated on the same deterministic ¼ order slice as q116 — the
    * gate's value is the seed-teleport semantics, not the volume;
    * q113 already carries the full-graph line (the q49 precedent).
    */
  val q115TrustRank: Q = (s, d) => {
    val e0 = Tables.orders(s, d)
      .filter(col("o_orderkey") % 4 === 0)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(
        (col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val seeds = Tables.supplier(s, d)
      .filter(col("s_nationkey") < 5)
      .select((col("s_suppkey") * 2 + 1).as("node"))
    Graph
      .integerPageRank(e0, iterations = 3, undirected = true, seeds = Some(seeds))
      .filter(col("node") % 2 === 0)
      .select(expr("node div 2").as("cust_key"), col("rank"))
      .orderBy(col("rank").desc, col("cust_key"))
      .limit(25)
  }

  /** Oracle: q113's CTE chain with the teleport CASE-gated on the seed
    * whitelist — r0 mass and the 150000 base go only to seed nodes.
    */
  val q115Sql: String =
    """WITH e0 AS (SELECT DISTINCT (o_custkey * 2) AS src, ((l_suppkey * 2) + 1) AS dst
      |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |            WHERE (o_orderkey % 4) = 0),
      |e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
      |sd AS (SELECT ((s_suppkey * 2) + 1) AS node FROM supplier WHERE s_nationkey < 5),
      |od AS (SELECT src AS node, COUNT(*) AS outdeg FROM e GROUP BY 1),
      |r0 AS (SELECT n.node, CAST(CASE WHEN sd.node IS NOT NULL THEN 1000000 ELSE 0 END AS BIGINT) AS r
      |       FROM nodes n LEFT JOIN sd ON sd.node = n.node),
      |s1 AS (SELECT e.dst AS node, SUM(r0.r // od.outdeg) AS csum
      |       FROM e JOIN od ON od.node = e.src JOIN r0 ON r0.node = e.src GROUP BY 1),
      |r1 AS (SELECT n.node, CAST((CASE WHEN sd.node IS NOT NULL THEN 150000 ELSE 0 END) + ((85 * COALESCE(s1.csum, 0)) // 100) AS BIGINT) AS r
      |       FROM nodes n LEFT JOIN sd ON sd.node = n.node LEFT JOIN s1 ON s1.node = n.node),
      |s2 AS (SELECT e.dst AS node, SUM(r1.r // od.outdeg) AS csum
      |       FROM e JOIN od ON od.node = e.src JOIN r1 ON r1.node = e.src GROUP BY 1),
      |r2 AS (SELECT n.node, CAST((CASE WHEN sd.node IS NOT NULL THEN 150000 ELSE 0 END) + ((85 * COALESCE(s2.csum, 0)) // 100) AS BIGINT) AS r
      |       FROM nodes n LEFT JOIN sd ON sd.node = n.node LEFT JOIN s2 ON s2.node = n.node),
      |s3 AS (SELECT e.dst AS node, SUM(r2.r // od.outdeg) AS csum
      |       FROM e JOIN od ON od.node = e.src JOIN r2 ON r2.node = e.src GROUP BY 1),
      |r3 AS (SELECT n.node, CAST((CASE WHEN sd.node IS NOT NULL THEN 150000 ELSE 0 END) + ((85 * COALESCE(s3.csum, 0)) // 100) AS BIGINT) AS r
      |       FROM nodes n LEFT JOIN sd ON sd.node = n.node LEFT JOIN s3 ON s3.node = n.node)
      |SELECT (node // 2) AS cust_key, r AS rank FROM r3 WHERE (node % 2) = 0
      |ORDER BY rank DESC NULLS FIRST, cust_key NULLS FIRST LIMIT 25""".stripMargin

  /** q116 — WEIGHTED PageRank ([[Graph.integerPageRank]] with
    * `weightCol`): trade VOLUME, not just existence — each node's mass
    * splits proportionally to edge weight (`(rank·w) div Σw`, exact in
    * DECIMAL), with parallel edges summing their weights, so the edge
    * build needs NO pre-aggregation: raw (customer, supplier) pairs at
    * weight 1 go in, and repeat business becomes edge weight inside
    * the operator's one dedup shuffle. Gated on a deterministic ¼
    * order slice (the gate's value is the weighted-split arithmetic,
    * not the volume — q113 already carries the full-graph line).
    */
  val q116WeightedPagerank: Q = (s, d) => {
    val e0 = Tables.orders(s, d)
      .filter(col("o_orderkey") % 4 === 0)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .select(
        (col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"),
        lit(1L).as("w"))
    Graph
      .integerPageRank(e0, iterations = 3, undirected = true, weightCol = Some("w"))
      .orderBy(col("rank").desc, col("node"))
      .limit(25)
  }

  /** Oracle: q113's chain with COUNT(*)-weighted edges and the
    * HUGEINT-safe weighted contribution `(r·w) // Σw`.
    */
  val q116Sql: String =
    """WITH raw AS (SELECT (o_custkey * 2) AS src, ((l_suppkey * 2) + 1) AS dst
      |             FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |             WHERE (o_orderkey % 4) = 0),
      |cw AS (SELECT src, dst, COUNT(*) AS w FROM raw GROUP BY 1, 2),
      |e AS (SELECT src, dst, w FROM cw UNION ALL SELECT dst AS src, src AS dst, w FROM cw),
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
      |       FROM nodes n LEFT JOIN s2 ON s2.node = n.node),
      |s3 AS (SELECT e.dst AS node, SUM((CAST(r2.r AS HUGEINT) * e.w) // ws.wsum) AS csum
      |       FROM e JOIN ws ON ws.node = e.src JOIN r2 ON r2.node = e.src GROUP BY 1),
      |r3 AS (SELECT n.node, CAST(150000 + ((85 * COALESCE(s3.csum, 0)) // 100) AS BIGINT) AS r
      |       FROM nodes n LEFT JOIN s3 ON s3.node = n.node)
      |SELECT node, r AS rank FROM r3
      |ORDER BY rank DESC NULLS FIRST, node NULLS FIRST LIMIT 25""".stripMargin

  /** q117 — semi-supervised label spread ([[Graph.labelPropagation]]):
    * the audited labels of a seed subset (every 3rd vector keeps its
    * true label) spread across the exact-cosine near-dup graph (the
    * q104 pair slice) for three majority-vote rounds, ties to the
    * smallest label, seeds clamped. Unreached nodes stay null. The
    * "propagate the human-labeled subset" curation move, bit-exact.
    */
  val q117LabelSpread: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 150)
    val pairs = graft.operators.Similarity
      .nearDupPairs(emb, "vec_id", "embedding", 0.35)
      .select(col("vec_a"), col("vec_b"))
    val seeds = emb
      .filter(col("vec_id") % 3 === 0)
      .select(col("vec_id").as("node"), col("label"))
    Graph
      .labelPropagation(pairs, seeds, iterations = 3)
      .select(col("node").as("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  /** Oracle: q104's exact-cosine pair CTEs, then three
    * count → max-count → min-label rounds with the seed clamp.
    */
  val q117Sql: String =
    """WITH emb AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id < 150),
      |x AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding,1) AS pos FROM emb),
      |n2 AS (SELECT vec_id, CAST(SUM(CAST(CAST(v AS DOUBLE)*CAST(v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS sq
      |       FROM x GROUP BY vec_id),
      |dp AS (SELECT a.vec_id AS va, b.vec_id AS vb,
      |        CAST(SUM(CAST(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS dot
      |       FROM x a JOIN x b ON a.pos = b.pos AND a.vec_id < b.vec_id GROUP BY 1, 2),
      |pairs AS (SELECT va, vb FROM dp JOIN n2 na ON dp.va = na.vec_id JOIN n2 nb ON dp.vb = nb.vec_id
      |          WHERE dot/(sqrt(na.sq)*sqrt(nb.sq)) >= 0.35),
      |e AS (SELECT va AS src, vb AS dst FROM pairs UNION SELECT vb AS src, va AS dst FROM pairs),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
      |sd AS (SELECT vec_id AS node, CAST(MIN(label) AS BIGINT) AS seed_label
      |       FROM emb WHERE (vec_id % 3) = 0 GROUP BY 1),
      |l0 AS (SELECT n.node, sd.seed_label AS label FROM nodes n LEFT JOIN sd ON sd.node = n.node),
      |v1 AS (SELECT e.dst AS node, l.label, COUNT(*) AS c FROM e JOIN l0 l ON l.node = e.src
      |       WHERE l.label IS NOT NULL GROUP BY 1, 2),
      |m1 AS (SELECT node, MAX(c) AS mc FROM v1 GROUP BY 1),
      |p1 AS (SELECT v1.node, MIN(v1.label) AS picked FROM v1 JOIN m1 ON v1.node = m1.node AND v1.c = m1.mc GROUP BY 1),
      |l1 AS (SELECT n.node, COALESCE(sd.seed_label, p1.picked) AS label
      |       FROM nodes n LEFT JOIN sd ON sd.node = n.node LEFT JOIN p1 ON p1.node = n.node),
      |v2 AS (SELECT e.dst AS node, l.label, COUNT(*) AS c FROM e JOIN l1 l ON l.node = e.src
      |       WHERE l.label IS NOT NULL GROUP BY 1, 2),
      |m2 AS (SELECT node, MAX(c) AS mc FROM v2 GROUP BY 1),
      |p2 AS (SELECT v2.node, MIN(v2.label) AS picked FROM v2 JOIN m2 ON v2.node = m2.node AND v2.c = m2.mc GROUP BY 1),
      |l2 AS (SELECT n.node, COALESCE(sd.seed_label, p2.picked) AS label
      |       FROM nodes n LEFT JOIN sd ON sd.node = n.node LEFT JOIN p2 ON p2.node = n.node),
      |v3 AS (SELECT e.dst AS node, l.label, COUNT(*) AS c FROM e JOIN l2 l ON l.node = e.src
      |       WHERE l.label IS NOT NULL GROUP BY 1, 2),
      |m3 AS (SELECT node, MAX(c) AS mc FROM v3 GROUP BY 1),
      |p3 AS (SELECT v3.node, MIN(v3.label) AS picked FROM v3 JOIN m3 ON v3.node = m3.node AND v3.c = m3.mc GROUP BY 1),
      |l3 AS (SELECT n.node, COALESCE(sd.seed_label, p3.picked) AS label
      |       FROM nodes n LEFT JOIN sd ON sd.node = n.node LEFT JOIN p3 ON p3.node = n.node)
      |SELECT node AS vec_id, label FROM l3 ORDER BY vec_id NULLS FIRST""".stripMargin

  /** q118 — near-dup cluster cohesion ([[Graph.triangleCounts]]): per-
    * vector triangle participation over the q104 exact-cosine pair
    * slice. High counts = clique-like true-duplicate clusters; zero on
    * a node with edges = transitive drift (A≈B≈C with no A≈C) — the
    * diagnostic run before trusting a keep-one compaction. The
    * operator is the degree-oriented wedge algorithm; the oracle is
    * the naive a<b<c triple join (same result, different plan).
    */
  val q118TriangleCohesion: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 150)
    // 0.25, not q104's 0.35: at 0.35 this slice has pair EDGES but no
    // closed triangle at either gate SF — a vacuous gate (every count
    // 0) proves nothing, the q99 lesson. At 0.25 the slice closes
    // 19-26 triangles at sf0.001/sf0.01; Verify enforces >=1.
    val pairs = graft.operators.Similarity
      .nearDupPairs(emb, "vec_id", "embedding", 0.25)
      .select(col("vec_a"), col("vec_b"))
    Graph
      .triangleCounts(pairs)
      .select(col("node").as("vec_id"), col("triangles"))
      .orderBy(col("vec_id"))
  }

  /** Oracle: q117's pair CTEs, then the canonical triple join
    * (a,b)(b,c)(a,c) with a<b<c — each triangle counted once — and a
    * per-node participation count with zeros for triangle-free nodes.
    */
  val q118Sql: String =
    """WITH emb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150),
      |x AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding,1) AS pos FROM emb),
      |n2 AS (SELECT vec_id, CAST(SUM(CAST(CAST(v AS DOUBLE)*CAST(v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS sq
      |       FROM x GROUP BY vec_id),
      |dp AS (SELECT a.vec_id AS va, b.vec_id AS vb,
      |        CAST(SUM(CAST(CAST(a.v AS DOUBLE)*CAST(b.v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS dot
      |       FROM x a JOIN x b ON a.pos = b.pos AND a.vec_id < b.vec_id GROUP BY 1, 2),
      |pairs AS (SELECT va, vb FROM dp JOIN n2 na ON dp.va = na.vec_id JOIN n2 nb ON dp.vb = nb.vec_id
      |          WHERE dot/(sqrt(na.sq)*sqrt(nb.sq)) >= 0.25),
      |t AS (SELECT e1.va AS a, e1.vb AS b, e2.vb AS c
      |      FROM pairs e1
      |      JOIN pairs e2 ON e2.va = e1.vb
      |      JOIN pairs e3 ON e3.va = e1.va AND e3.vb = e2.vb),
      |nodes AS (SELECT va AS node FROM pairs UNION SELECT vb AS node FROM pairs),
      |cnt AS (SELECT node, COUNT(*) AS t FROM
      |        (SELECT a AS node FROM t UNION ALL SELECT b AS node FROM t UNION ALL SELECT c AS node FROM t)
      |        GROUP BY 1)
      |SELECT n.node AS vec_id, CAST(COALESCE(cnt.t, 0) AS BIGINT) AS triangles
      |FROM nodes n LEFT JOIN cnt ON cnt.node = n.node
      |ORDER BY vec_id NULLS FIRST""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q113_pagerank", q113PageRank, q113Sql),
    Query("q114_grouped_mad", q114GroupedMad, q114Sql),
    Query("q115_trustrank", q115TrustRank, q115Sql),
    Query("q116_weighted_pagerank", q116WeightedPagerank, q116Sql),
    Query("q117_label_spread", q117LabelSpread, q117Sql),
    Query("q118_triangle_cohesion", q118TriangleCohesion, q118Sql))
}
