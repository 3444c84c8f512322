package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Hashing, KMinValues}
import graft.functions.Scalars.{dec4, sumDec}
import graft.operators.{Relational, TextAnalysis}
import graft.queries.CoreQueries.Q

/** Extended analytic + pipeline surface (round 2): TF-IDF, grouping
  * sets, time-range window frames, a deterministic distinct sketch,
  * edit distance, unpivot, deterministic mode, SQL subqueries,
  * document chunking, skew-salted joins, and calendar aggregation.
  * Same determinism contract as every other catalog (see
  * `functions.Scalars` / `functions.Hashing` scaladoc).
  */
object ExtQueries {

  /** q40 — TF-IDF top-3 terms per document, idf expressed as the exact
    * ratio `N/df` (no transcendental: `ln` is libm-dependent and can
    * drift in the last ulp between engines; the ratio ranks terms
    * identically for a fixed tf). Shape at scale: one tokenize pass
    * feeding two aggregations (tf on (doc, term), df on term) joined
    * back on term — df is vocabulary-sized, so AQE picks broadcast vs
    * shuffle — then one window per doc for the top-k.
    */
  val q40Tfidf: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = toks.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
    tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(n))
      .withColumn(
        "score",
        col("tf").cast("double") * (col("n").cast("double") / col("df").cast("double")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("score").desc, col("tok"))
  }

  val q40Sql: String =
    """WITH toks AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks WHERE tok <> '' GROUP BY 1,2),
      |df AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks WHERE tok <> '' GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM documents)
      |SELECT doc_id, tok, tf, df, CAST(tf AS DOUBLE) * (CAST(n AS DOUBLE) / CAST(df AS DOUBLE)) AS score
      |FROM tf JOIN df USING (tok) CROSS JOIN n
      |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) <= 3
      |ORDER BY doc_id NULLS FIRST, score DESC, tok NULLS FIRST""".stripMargin

  /** q41 — explicit GROUPING SETS (the general form of q10's rollup /
    * q34's cube) through the Spark 4 `Dataset.groupingSets` API, with
    * the standard grouping-bit vector. Physically one Expand + one
    * aggregation — rows are replicated per set map-side, partial agg
    * keeps the shuffle at (groups × sets).
    */
  val q41GroupingSets: Q = (s, d) =>
    Tables
      .lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"),
        col("l_linestatus"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("cnt"),
        sumDec(col("l_quantity")).as("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val q41Sql: String =
    """SELECT l_returnflag, l_linestatus, CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      | CAST(COUNT(*) AS BIGINT) AS cnt,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY gid NULLS FIRST, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** q42 — event-time RANGE window frame: per user, the rolling sum and
    * count of events in the trailing 10 minutes (frame bounds in
    * microseconds over `ts_us`). RANGE (value-based) vs ROWS
    * (position-based) is the distinction; sums in decimal so frame
    * accumulation order can't drift. One shuffle on user_id — the same
    * cost as any per-key window at scale.
    */
  val q42WindowRange: Q = (s, d) => {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us"))
      .rangeBetween(-600000000L, Window.currentRow)
    Tables
      .events(s, d)
      .filter(col("user_id") < 30)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
      .withColumn("win_sum", sum(dec4(col("value"))).over(w).cast("double"))
      .withColumn("win_cnt", count(lit(1)).over(w).cast("long"))
      .drop("value")
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))
  }

  val q42Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events WHERE user_id < 30)
      |SELECT event_id, user_id, ts_us,
      | CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS win_sum,
      | CAST(COUNT(*) OVER w AS BIGINT) AS win_cnt
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id NULLS FIRST, ts_us NULLS FIRST, event_id NULLS FIRST""".stripMargin

  /** q43 — KMV distinct sketch next to the exact count: per event type,
    * the exact distinct event_id cardinality and the k=64 KMV estimate
    * `(k-1)·2^60/h_k` over the shared md5-derived hash (see
    * [[graft.functions.KMinValues]] — deterministic where HLL is not,
    * so the estimate itself is oracle-gated). The sketch aggregates
    * with a bounded k-long buffer: no distinct shuffle at scale.
    */
  val q43KmvDistinct: Q = (s, d) => {
    val kmv = udaf(new KMinValues(64))
    Tables
      .events(s, d)
      .select(col("event_type"), col("event_id"))
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("event_id")).as("exact_distinct"),
        kmv(Hashing.h60(col("event_id").cast("string"))).as("kth"))
      .withColumn(
        "kmv_estimate",
        lit(63).cast("double") * (lit(1152921504606846976L).cast("double") / col("kth").cast("double")))
      .drop("kth")
      .orderBy(col("event_type"))
  }

  val q43Sql: String =
    """WITH h AS (SELECT DISTINCT event_type, CAST('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,15) AS BIGINT) AS hv FROM events),
      |r AS (SELECT event_type, hv, row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
      |      CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS exact_distinct FROM h)
      |SELECT event_type, exact_distinct,
      | CAST(63 AS DOUBLE) * (CAST(1152921504606846976 AS DOUBLE) / CAST(hv AS DOUBLE)) AS kmv_estimate
      |FROM r WHERE rn = 64
      |ORDER BY event_type NULLS FIRST""".stripMargin

  /** q44 — pairwise edit distance (Levenshtein) over document prefixes:
    * the fuzzy-dedup primitive for short strings (titles, names).
    * All-pairs on a filtered subset — the real-scale shape is
    * block-then-compare (LSH buckets from q20/q25 supply the candidate
    * pairs; this is the verify stage run inside each bucket).
    */
  val q44EditDistance: Q = (s, d) => {
    val docs = Tables
      .documents(s, d)
      .filter(col("doc_id") < 25)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("pref"))
    docs
      .toDF("a_id", "a_pref")
      .join(broadcast(docs.toDF("b_id", "b_pref")), col("a_id") < col("b_id"))
      .select(
        col("a_id"),
        col("b_id"),
        levenshtein(col("a_pref"), col("b_pref")).cast("long").as("dist"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val q44Sql: String =
    """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      | CAST(levenshtein(substr(a.text,1,40), substr(b.text,1,40)) AS BIGINT) AS dist
      |FROM documents a JOIN documents b ON a.doc_id < b.doc_id
      |WHERE a.doc_id < 25 AND b.doc_id < 25
      |ORDER BY a_id NULLS FIRST, b_id NULLS FIRST""".stripMargin

  /** q45 — unpivot/melt (wide → long): the four lineitem measures as
    * (measure, value) rows via `Dataset.unpivot`. Physically an Expand
    * (4× row replication, no shuffle) — the oracle is the portable
    * UNION ALL formulation.
    */
  val q45Unpivot: Q = (s, d) =>
    Tables
      .lineitem(s, d)
      .filter(col("l_orderkey") < 50)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure",
        "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))

  val q45Sql: String =
    """SELECT l_orderkey, l_linenumber, measure, value FROM (
      | SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem WHERE l_orderkey < 50
      | UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem WHERE l_orderkey < 50
      | UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem WHERE l_orderkey < 50
      | UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem WHERE l_orderkey < 50)
      |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST, measure NULLS FIRST""".stripMargin

  /** q46 — deterministic mode: each user's most frequent event type,
    * ties broken lexicographically (engine-native `mode()` aggregates
    * leave tie order undefined — the window formulation pins it).
    * Count-then-rank: two hash aggs + one small window, no full sort.
    */
  val q46Mode: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("cnt").desc, col("event_type"))
    Tables
      .events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("mode_type"), col("cnt"))
      .orderBy(col("user_id"))
  }

  val q46Sql: String =
    """WITH c AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1,2)
      |SELECT user_id, event_type AS mode_type, cnt FROM c
      |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) = 1
      |ORDER BY user_id NULLS FIRST""".stripMargin

  /** q47 — correlated subqueries through the SQL surface: EXISTS and
    * NOT EXISTS against orders. Catalyst rewrites these to left-semi /
    * left-anti joins (`RewritePredicateSubquery`) — the point of the
    * gate: the declarative subquery form and q13's explicit join form
    * hit the same physical plan.
    */
  val q47ExistsSubquery: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("q47_customer")
    Tables.orders(s, d).createOrReplaceTempView("q47_orders")
    s.sql("""SELECT c_custkey, c_name FROM q47_customer c
            |WHERE EXISTS (SELECT 1 FROM q47_orders o
            |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
            |  AND NOT EXISTS (SELECT 1 FROM q47_orders o
            |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
            |ORDER BY c_custkey""".stripMargin)
  }

  val q47Sql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      |AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      |ORDER BY c_custkey NULLS FIRST""".stripMargin

  /** q48 — sliding-window document chunking (window 200 chars, stride
    * 150 → 50-char overlap) via [[TextAnalysis.chunk]]; chunks surfaced
    * as md5 + length so the gate hashes content without megabyte rows.
    */
  val q48Chunk: Q = (s, d) =>
    // Raw scan: sliding-window slicing is cheap per-row work (0.29 s
    // pre-spread ledger) — the corpus spread's exchange is overhead,
    // not parallelism, here.
    TextAnalysis
      .chunk(Tables.table(s, d, "documents").select(col("doc_id"), col("text")), "text", 200, 150)
      .select(
        col("doc_id"),
        col("chunk_id"),
        md5(col("chunk")).as("chunk_md5"),
        length(col("chunk")).cast("long").as("chunk_len"))
      .orderBy(col("doc_id"), col("chunk_id"))

  val q48Sql: String =
    """WITH c AS (SELECT doc_id,
      |  UNNEST([{'chunk_id': g, 'chunk_md5': md5(substr(text, CAST(g*150+1 AS BIGINT), 200)),
      |           'chunk_len': length(substr(text, CAST(g*150+1 AS BIGINT), 200))}
      |          for g in range(0, CAST(floor((length(text)-1)/150)+1 AS BIGINT))], recursive := true)
      | FROM documents)
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, chunk_md5, CAST(chunk_len AS BIGINT) AS chunk_len
      |FROM c ORDER BY doc_id NULLS FIRST, chunk_id NULLS FIRST""".stripMargin

  /** q49 — skew-salted join (see [[Relational.saltedJoin]]): lineitem ⋈
    * orders with the orders side replicated over 8 salts, then the
    * revenue rollup by priority. The oracle is the plain join — the
    * gate proves the salting rewrite result-identical.
    *
    * The gate runs on a deterministic 1-in-4 key slice
    * (`orderkey % 4 = 0`, applied identically to both sides and to the
    * oracle): the parity proof's value is the EQUALITY, not the
    * volume, and the full-volume form was the suite's #6 bench line
    * purely from its intentional `salts`× duplicated shuffle. The
    * operator itself is unchanged and size-independent.
    */
  val q49SaltedJoin: Q = (s, d) => {
    val l = Tables.lineitem(s, d)
      .filter(col("l_orderkey") % 4 === 0)
      .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = Tables.orders(s, d)
      .filter(col("o_orderkey") % 4 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    Relational
      .saltedJoin(l, o, Seq("o_orderkey"), salts = 8)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(dec4(col("l_extendedprice")) * graft.functions.Scalars.factor(lit(1.0) - col("l_discount")))
          .cast("double")
          .as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  val q49Sql: String =
    """SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS cnt,
      | CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE l.l_orderkey % 4 = 0 AND o.o_orderkey % 4 = 0
      |GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin

  /** q50 — calendar rollup (F7/F8 date functions as data operators, not
    * just log formatting): monthly order count + exact revenue. Date
    * parts surfaced as BIGINT, never raw timestamps (cross-engine
    * timestamp binary forms differ — see Tables.events scaladoc).
    */
  val q50MonthRevenue: Q = (s, d) =>
    Tables
      .orders(s, d)
      .groupBy(
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"))
      .agg(count(lit(1)).as("cnt"), sumDec(col("o_totalprice")).as("revenue"))
      .orderBy(col("y"), col("m"))

  val q50Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS y, CAST(month(o_orderdate) AS BIGINT) AS m,
      | CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1,2 ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q40_tfidf", q40Tfidf, q40Sql),
    Query("q41_grouping_sets", q41GroupingSets, q41Sql),
    Query("q42_window_range", q42WindowRange, q42Sql),
    Query("q43_kmv_distinct", q43KmvDistinct, q43Sql),
    Query("q44_edit_distance", q44EditDistance, q44Sql),
    Query("q45_unpivot", q45Unpivot, q45Sql),
    Query("q46_mode", q46Mode, q46Sql),
    Query("q47_exists_subquery", q47ExistsSubquery, q47Sql),
    Query("q48_chunk", q48Chunk, q48Sql),
    Query("q49_salted_join", q49SaltedJoin, q49Sql),
    Query("q50_month_revenue", q50MonthRevenue, q50Sql))
}
