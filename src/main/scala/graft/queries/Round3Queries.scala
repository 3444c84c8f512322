package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Hashing
import graft.functions.Scalars.sumDec
import graft.operators.{Dedup, Similarity}
import graft.queries.CoreQueries.Q

/** Round-3 surface: duplicate-cluster connected components, exact
  * percentiles, ranking windows (ntile/percent_rank/cume_dist), regex
  * extraction, deterministic hash sampling, correlated scalar
  * subqueries, histogramming, keep-canonical dedup compaction, frame
  * navigation (first/last/nth), and token-slice summarization.
  *
  * Same determinism contract as the other catalogs: exact decimal for
  * accumulations, md5-derived hashes (shared with the DuckDB oracle),
  * no engine-private RNG, ties always broken by a unique key.
  */
object Round3Queries {

  /** q51 — duplicate-cluster connected components: the near-dup PAIRS
    * of q23 (exact-cosine ≥ 0.35) turned into duplicate GROUPS via
    * [[Dedup.connectedComponents]] (iterative min-label propagation —
    * one join+agg per round, converges in O(diameter)). This is the
    * step that makes pairwise dedup actionable at corpus scale: keep
    * one canonical doc per component. Oracle: DuckDB recursive CTE
    * computing min-reachable-node over the same edge set.
    */
  val q51ConnComp: Q = (s, d) => {
    val pairs = Similarity
      .nearDupPairs(
        Tables.embeddings(s, d).filter(col("vec_id") < 150),
        "vec_id",
        "embedding",
        0.35)
      .select(col("vec_a"), col("vec_b"))
    Dedup.connectedComponents(pairs).orderBy(col("node"))
  }

  val q51Sql: String =
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
      |  SELECT e2.dst, w.comp FROM walk w JOIN edges e2 ON e2.src = w.node)
      |SELECT CAST(node AS BIGINT) AS node, CAST(MIN(comp) AS BIGINT) AS component
      |FROM walk GROUP BY node ORDER BY node NULLS FIRST""".stripMargin

  /** q52 — exact interpolated percentiles (SQL `percentile_cont`
    * semantics: index p·(n−1), linear interpolation) per group. The
    * inputs are decimal(12,2) quantities whose doubles are exact, and
    * both engines interpolate with the same formula, so the gate is
    * bit-exact. At scale the exact percentile is a per-group sort;
    * the approximate path (percentile_approx / KLL) is the 100 TB
    * variant when error tolerance allows.
    */
  val q52Percentiles: Q = (s, d) =>
    Tables
      .lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity").cast("double").as("qty"))
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(qty, 0.25)").as("p25"),
        expr("percentile(qty, 0.5)").as("p50"),
        expr("percentile(qty, 0.75)").as("p75"),
        expr("percentile(qty, 0.99)").as("p99"))
      .orderBy(col("l_returnflag"))

  val q52Sql: String =
    """SELECT l_returnflag,
      | quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS p25,
      | quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS p50,
      | quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS p75,
      | quantile_cont(CAST(l_quantity AS DOUBLE), 0.99) AS p99
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin

  /** q53 — ranking-window battery: ntile(4) quartiles, percent_rank,
    * cume_dist per nation over account balance, ties pinned by the
    * unique custkey. Partitioned window — one shuffle on the partition
    * key, no global sort, the shape that scales.
    */
  val q53NtileCume: Q = (s, d) => {
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("bal"), col("c_custkey"))
    Tables
      .customer(s, d)
      .filter(col("c_custkey") <= 600)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal").cast("double").as("bal"))
      .withColumn("tile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .orderBy(col("c_custkey"))
  }

  val q53Sql: String =
    """SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DOUBLE) AS bal,
      | CAST(ntile(4) OVER w AS BIGINT) AS tile,
      | percent_rank() OVER w AS pct_rank,
      | cume_dist() OVER w AS cume
      |FROM customer WHERE c_custkey <= 600
      |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
      |ORDER BY c_custkey NULLS FIRST""".stripMargin

  /** q54 — regex extraction/scrubbing over documents: first digit run,
    * digit-run count, and an md5 of the digit-scrubbed text (content
    * hashed so the gate verifies the full replacement without MB-sized
    * result rows). Patterns stay in the subset Java regex and RE2
    * evaluate identically. Pure per-row codegen'd expressions.
    */
  val q54RegexExtract: Q = (s, d) =>
    Tables
      .documents(s, d)
      .filter(col("doc_id") < 300)
      .select(
        col("doc_id"),
        regexp_extract(col("text"), "([0-9]+)", 1).as("first_num"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).cast("long").as("n_num_runs"),
        md5(regexp_replace(col("text"), "[0-9]+", "#")).as("scrubbed_md5"))
      .orderBy(col("doc_id"))

  val q54Sql: String =
    """SELECT doc_id,
      | COALESCE(regexp_extract(text, '([0-9]+)', 1), '') AS first_num,
      | CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_runs,
      | md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS scrubbed_md5
      |FROM documents WHERE doc_id < 300
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q55 — deterministic hash sampling: a reproducible ~10% sample of
    * orders by md5-derived bucket (`h60(key) % 100 < 10`) rolled up by
    * status. Unlike `TABLESAMPLE`/rand(), the predicate is stable
    * across engines, partitionings, and reruns — the only sampling
    * that can be oracle-gated, and the kind a 100 TB pipeline wants
    * anyway (resumable, consistent across tables on the same key).
    */
  val q55HashSample: Q = (s, d) =>
    Tables
      .orders(s, d)
      .filter(Hashing.h60(col("o_orderkey").cast("string")) % 100 < 10)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_sampled"), sumDec(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_orderstatus"))

  val q55Sql: String =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_sampled,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders
      |WHERE CAST('0x'||substr(md5(CAST(o_orderkey AS VARCHAR)),1,15) AS BIGINT) % 100 < 10
      |GROUP BY o_orderstatus ORDER BY o_orderstatus NULLS FIRST""".stripMargin

  /** q56 — correlated scalar subqueries: orders priced at more than
    * twice their customer's average. The comparison is written as
    * `price · count > 2 · sum` so every term is exact decimal/integer —
    * no double-average rounding at the decision boundary. Catalyst
    * de-correlates both subqueries into aggregate+join.
    */
  val q56ScalarSubquery: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("q56_orders")
    s.sql("""SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price
            |FROM q56_orders o
            |WHERE CAST(o_totalprice AS DECIMAL(18,4)) *
            |      (SELECT COUNT(*) FROM q56_orders o2 WHERE o2.o_custkey = o.o_custkey)
            |    > 2 * (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(18,4)))
            |           FROM q56_orders o3 WHERE o3.o_custkey = o.o_custkey)
            |ORDER BY o_orderkey""".stripMargin)
  }

  val q56Sql: String =
    """SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price
      |FROM orders o
      |WHERE CAST(o_totalprice AS DECIMAL(18,4)) *
      |      (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |    > 2 * (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(18,4)))
      |           FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey NULLS FIRST""".stripMargin

  /** q57 — fixed-width histogram of order value: bucket = ⌊price/50k⌋
    * (doubles are exact for decimal(12,2) values, so the floor is
    * unambiguous). One codegen'd projection + one small aggregation —
    * the profile pass every ingest pipeline runs before choosing
    * partition bounds.
    */
  val q57Histogram: Q = (s, d) =>
    Tables
      .orders(s, d)
      .select(floor(col("o_totalprice").cast("double") / lit(50000.0)).cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("bucket"))

  val q57Sql: String =
    """SELECT CAST(floor(CAST(o_totalprice AS DOUBLE) / 50000.0) AS BIGINT) AS bucket,
      | CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM orders GROUP BY 1 ORDER BY bucket NULLS FIRST""".stripMargin

  /** q58 — keep-canonical dedup compaction (the end-to-end shape q19
    * and q29 feed): fingerprint-group the corpus, keep the min-doc_id
    * representative per group, report the surviving corpus per
    * language. Two hash aggregations + one equi-join on (fp, doc_id) —
    * no window, no sort, linear at any scale.
    */
  val q58KeepCanonical: Q = (s, d) => {
    val f = Tables
      .documents(s, d)
      .select(
        col("doc_id"),
        col("lang"),
        length(col("text")).cast("long").as("nc"),
        Dedup.fingerprint(col("text")).as("fp"))
    val keep = f.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    f.join(keep, Seq("fp", "doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("nc")).as("chars_kept"))
      .orderBy(col("lang"))
  }

  val q58Sql: String =
    """WITH f AS (SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS nc,
      |  md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp
      | FROM documents),
      |k AS (SELECT fp, MIN(doc_id) AS doc_id FROM f GROUP BY fp)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept, CAST(SUM(nc) AS BIGINT) AS chars_kept
      |FROM f JOIN k USING (fp, doc_id)
      |GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin

  /** q59 — frame-navigation windows: per user's event timeline, the
    * first/last/2nd event id over the full-partition frame (explicit
    * ROWS UNBOUNDED...UNBOUNDED — `last_value`'s default frame is a
    * classic cross-engine trap, pinned identical here).
    */
  val q59FrameNav: Q = (s, d) => {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables
      .events(s, d)
      // timeline navigation is over TIMED rows only: an event with a
      // NULL ts has no position, and the engines would give it
      // opposite ones (Spark window-orders NULLS FIRST, DuckDB LAST —
      // round-10 NULL-event-time fuzz probe)
      .filter(col("user_id") < 20 && col("ts_us").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts_us"))
      .withColumn("first_ev", first(col("event_id")).over(w))
      .withColumn("last_ev", last(col("event_id")).over(w))
      .withColumn("second_ev", nth_value(col("event_id"), 2).over(w))
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  val q59Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
      |          WHERE user_id < 20 AND ts IS NOT NULL)
      |SELECT event_id, user_id, ts_us,
      | first_value(event_id) OVER w AS first_ev,
      | last_value(event_id) OVER w AS last_ev,
      | nth_value(event_id, 2) OVER w AS second_ev
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY user_id NULLS FIRST, ts_us NULLS FIRST, event_id NULLS FIRST""".stripMargin

  /** q60 — token-slice summarization: the first-8-token snippet plus
    * token count per document (array slice + join — the cheap
    * "preview" projection LLM-data curation UIs run over every shard).
    */
  val q60TokenSlice: Q = (s, d) =>
    // Raw scan: a 400-row slice of cheap projections — the corpus
    // spread's exchange is overhead, not parallelism, here.
    Tables
      .table(s, d, "documents")
      .filter(col("doc_id") < 400)
      .select(
        col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 8), " ").as("head8"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))

  val q60Sql: String =
    """SELECT doc_id,
      | array_to_string(string_split(text, ' ')[1:8], ' ') AS head8,
      | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |FROM documents WHERE doc_id < 400
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q51_conncomp", q51ConnComp, q51Sql),
    Query("q52_percentiles", q52Percentiles, q52Sql),
    Query("q53_ntile_cume", q53NtileCume, q53Sql),
    Query("q54_regex_extract", q54RegexExtract, q54Sql),
    Query("q55_hash_sample", q55HashSample, q55Sql),
    Query("q56_scalar_subquery", q56ScalarSubquery, q56Sql),
    Query("q57_histogram", q57Histogram, q57Sql),
    Query("q58_keep_canonical", q58KeepCanonical, q58Sql),
    Query("q59_frame_nav", q59FrameNav, q59Sql),
    Query("q60_token_slice", q60TokenSlice, q60Sql))
}
