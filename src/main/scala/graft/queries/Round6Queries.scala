package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Relational, Similarity, TextAnalysis}
import graft.queries.CoreQueries.Q

/** Round-6 surface: the multi-table int8 bucketed ANN (the recall
  * lever for LSH over weakly-clustered embeddings) and per-group
  * exact quantiles over a mid-cardinality key — both oracle-gated.
  *
  * Same determinism contract as the other catalogs: integer/decimal
  * ranking inputs, md5-derived hyperplanes shared with the DuckDB
  * oracle, ties always broken by a unique id.
  */
object Round6Queries {

  /** q102 — MULTI-TABLE int8 bucketed ANN
    * ([[Similarity.srpAnnTopKInt8]]): 2 independent SRP families ×
    * 4 bits × 1-bit-flip probes, candidates deduped per pair, ranked
    * by normalized int8 cosine (exact integer dot over √ of integer
    * norms — the raw dot misorders neighbors whose max-abs scales
    * differ). The construction every production vector store runs
    * when a single table's buckets are too fine for the data's
    * similarity level; every stage is a bucketed equi-join, the
    * union is bounded by candidate volume, and every ranking input
    * is integer-derived so the oracle matches bit-for-bit.
    */
  val q102MultiTableAnn: Q = (s, d) =>
    Similarity
      .srpAnnTopKInt8(
        Tables.embeddings(s, d).filter(col("vec_id") < 10),
        // Tables.embeddings already spreads few-split inputs at the
        // source; no per-query wrapper needed.
        Tables.embeddings(s, d),
        "vec_id",
        "embedding",
        bits = 4,
        dim = 64,
        k = 3,
        probeBitFlips = 1,
        tables = 2)
      .orderBy(col("query_id"), col("rank"))

  val q102Sql: String =
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |m AS (SELECT vec_id, embedding,
      |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx FROM e),
      |q8t AS (SELECT vec_id,
      |  CASE WHEN mx = 0 THEN list_transform(embedding, x -> 0)
      |       ELSE list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / mx) + 0.5) AS INT)) END AS q8
      | FROM m),
      |qq AS (SELECT vec_id, q8,
      |  list_sum(list_transform(q8, x -> CAST(x AS BIGINT) * x)) AS q8sq FROM q8t),
      |x AS (SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding,1) - 1 AS pos FROM e),
      |w AS (SELECT vec_id, t, j,
      |  SUM(CASE WHEN CAST('0x'||substr(md5((CASE WHEN t = 0 THEN 'srp' ELSE 'srp_t'||t END)||'_'||j||'_'||pos),1,15) AS BIGINT) % 2 = 0
      |           THEN CAST(CAST(v AS DOUBLE) AS DECIMAL(28,10))
      |           ELSE CAST(-CAST(v AS DOUBLE) AS DECIMAL(28,10)) END) AS sgn
      | FROM x CROSS JOIN (SELECT unnest(range(2)) AS t) CROSS JOIN (SELECT unnest(range(4)) AS j)
      | GROUP BY vec_id, t, j),
      |bk AS (SELECT vec_id, t,
      |  SUM(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END) AS bucket
      | FROM w GROUP BY vec_id, t),
      |pr AS (SELECT vec_id, t,
      |  CASE WHEN f = 4 THEN bucket ELSE xor(bucket, (CAST(1 AS BIGINT) << CAST(f AS INT))) END AS bucket
      | FROM bk CROSS JOIN (SELECT unnest(range(5)) AS f)
      | WHERE vec_id < 10),
      |cand AS (SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id
      | FROM pr p JOIN bk c ON p.t = c.t AND p.bucket = c.bucket
      | WHERE p.vec_id <> c.vec_id),
      |dp AS (SELECT cand.query_id, cand.neighbor_id,
      |  CAST(list_sum(list_transform(list_zip(a.q8, b.q8), z -> CAST(z[1] AS BIGINT) * z[2])) AS BIGINT) AS idot,
      |  a.q8sq AS asq, b.q8sq AS bsq
      | FROM cand JOIN qq a ON cand.query_id = a.vec_id JOIN qq b ON cand.neighbor_id = b.vec_id),
      |sc AS (SELECT query_id, neighbor_id, idot,
      |  CAST(idot AS DOUBLE) / sqrt(CAST(asq AS DOUBLE) * CAST(bsq AS DOUBLE)) AS icos FROM dp),
      |r AS (SELECT query_id, neighbor_id, idot, icos,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY icos DESC, neighbor_id) AS BIGINT) AS rank
      | FROM sc)
      |SELECT query_id, neighbor_id, rank, idot, icos FROM r WHERE rank <= 3
      |ORDER BY query_id NULLS FIRST, rank NULLS FIRST""".stripMargin

  /** q103 — PER-GROUP exact quantiles over a mid-cardinality key
    * ([[Relational.groupedDiscreteQuantiles]]): p50/p90 document
    * token count per language. The second consumer of the grouped
    * order-statistics operator (q36 covers the 3-value key); the
    * oracle is the window formulation, proving the range-partitioned
    * plan result-identical while carrying no Window operator.
    */
  val q103LangQuantiles: Q = (s, d) =>
    Relational
      .groupedDiscreteQuantiles(
        Tables
          .documents(s, d)
          // readable rows only: a NULL text's NULL token count would
          // rank-order differently across engines (operator null
          // guard throws by design)
          .filter(col("text").isNotNull)
          .select(col("lang"), TextAnalysis.wsTokenCount(col("text")).as("n_tok")),
        "lang",
        "n_tok",
        Seq(0.5, 0.9),
        numPartitions = 32)
      .withColumnRenamed("q0", "p50")
      .withColumnRenamed("q1", "p90")
      .orderBy(col("lang"))

  val q103Sql: String =
    """SELECT lang,
      | MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN n_tok END) AS p50,
      | MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT) THEN n_tok END) AS p90
      |FROM (SELECT lang, n_tok,
      |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_tok) AS rn,
      |  COUNT(*) OVER (PARTITION BY lang) AS n
      | FROM (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |       FROM documents WHERE text IS NOT NULL))
      |GROUP BY lang
      |ORDER BY lang NULLS FIRST""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q102_multitable_ann", q102MultiTableAnn, q102Sql),
    Query("q103_lang_quantiles", q103LangQuantiles, q103Sql))
}
