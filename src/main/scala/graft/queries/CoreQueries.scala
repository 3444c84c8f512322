package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Scalars._
import graft.operators.Relational

/** Core relational query catalog — one entry per reference operator
  * group (SURVEY.md §2.1–2.8), re-expressed over the fixture tables.
  * Each query carries its DuckDB oracle SQL (driver hash-compares).
  *
  * Determinism contract shared by every query here:
  *  - double aggregation goes through DECIMAL(18,4) (see Scalars.sumDec)
  *  - per-row double arithmetic is written identically in both engines
  *  - every query ends in a total ORDER BY (NULLS FIRST in SQL to match
  *    Spark's asc_nulls_first default)
  *  - no raw timestamp columns in output (ns vs µs precision differs)
  */
object CoreQueries {

  type Q = (SparkSession, String) => DataFrame

  /** DuckDB twin of [[graft.operators.Dedup.asciiFold]] — the
    * ASCII-only case fold every cross-engine-hashed oracle uses in
    * place of `lower()` (whose U+0130 mapping differs between the JVM
    * and DuckDB; see asciiFold's scaladoc).
    */
  def foldSql(col: String): String =
    s"translate($col, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')"

  /** q01 — grouped aggregation (SURVEY.md §2.5 A1–A4): filter + groupBy
    * + exact sums + avg + count. The reference's per-issue worklog sum
    * (helpers.js:124-133) generalized to a TPC-H-Q1-shaped pricing
    * summary. Partial+final hash agg; filter and the 7-column projection
    * push into the parquet scan.
    */
  val q01PricingSummary: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    li.filter(col("l_shipdate") <= to_timestamp(lit("2000-12-01")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumDec(col("l_quantity")).as("sum_qty"),
        sumDec(col("l_extendedprice")).as("sum_base_price"),
        sumDiscPrice(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        sumCharge(col("l_extendedprice"), col("l_discount"), col("l_tax")).as("sum_charge"),
        avgDec(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2)) * CAST(1.0 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
      | COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** q02 — scan + conjunctive predicate + projection with a derived
    * column (SURVEY.md §2.1 S1, §2.3 P1/P7): the reference's JQL
    * server-side filter (config.json:4) and 13-field projection
    * (etl.js:127-148) become a pushed-down parquet filter + pruned read.
    * Per-row double arithmetic only — no aggregation, so values are
    * bit-exact in both engines.
    */
  val q02ScanFilterProject: Q = (s, d) => {
    Tables
      .lineitem(s, d)
      .filter(
        col("l_quantity") >= lit(49.0) && col("l_discount") >= lit(0.09) &&
          col("l_returnflag") === lit("R"))
      .select(
        col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val q02Sql: String =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity,
      | l_extendedprice * (1.0 - l_discount) AS revenue
      |FROM lineitem
      |WHERE l_quantity >= 49.0 AND l_discount >= 0.09 AND l_returnflag = 'R'
      |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST""".stripMargin

  /** q03 — sort + limit / top-k (SURVEY.md §2.1 S2): `maxResults`
    * source-limit (etl.js:103-105) generalized to a deterministic
    * top-k. Spark plans this as TakeOrderedAndProject — a per-partition
    * top-k + driver merge, no full sort, which is exactly the 100 TB
    * shape.
    */
  val q03TopK: Q = (s, d) => {
    Tables
      .orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
  }

  val q03Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** q04 — denormalizing view (SURVEY.md §2.4 J3–J6, §2.8 G5): the
    * `v_feasibility` read path (schema.sql:66-94) as one left-join tree
    * over broadcast dims — fact scanned once (vs 4× in the reference's
    * CTE formulation), dims broadcast by Catalyst.
    */
  val q04DenormView: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    Relational
      .denormalize(
        o,
        Seq(
          (c, o("o_custkey") === c("c_custkey")),
          (n, c("c_nationkey") === n("n_nationkey")),
          (r, n("n_regionkey") === r("r_regionkey"))))
      .filter(col("o_orderkey") % 500 === 0)
      .select(
        col("o_orderkey"),
        col("c_name"),
        col("n_name"),
        col("r_name"),
        col("o_totalprice"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  val q04Sql: String =
    """SELECT o_orderkey, c_name, n_name, r_name, o_totalprice, o_orderpriority
      |FROM orders o
      |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE o_orderkey % 500 = 0
      |ORDER BY o_orderkey NULLS FIRST""".stripMargin

  /** q05 — multi-join with a self-aliased dim (SURVEY.md §2.4 J4: the
    * reference joins `jira_user` twice, as reviewer and reporter;
    * schema.sql:68-79). Here `nation` is joined twice — customer nation
    * and supplier nation — through a 4-table join, with exact decimal
    * revenue sums per nation pair.
    */
  val q05NationRevenue: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val sup = Tables.supplier(s, d)
    val n1 = Tables.nation(s, d).select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
    val n2 = Tables.nation(s, d).select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n1), c("c_nationkey") === col("cnk"))
      .join(broadcast(n2), sup("s_nationkey") === col("snk"))
      .groupBy(col("cust_nation"), col("supp_nation"))
      .agg(
        sumDiscPrice(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("cust_nation"), col("supp_nation"))
  }

  val q05Sql: String =
    """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      |JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      |GROUP BY n1.n_name, n2.n_name
      |ORDER BY cust_nation NULLS FIRST, supp_nation NULLS FIRST""".stripMargin

  /** q06 — correlated child rollup (SURVEY.md §2.4 J1, §2.5 A1/A2,
    * §2.3 P5): per-parent aggregation of a child table left-joined back
    * so childless parents keep NULL totals (the reference's
    * issue→worklog correlation, etl.js:216-220 + null normalization,
    * helpers.js:115-117). 257 orders have no lineitems at sf0.01 —
    * they must surface with NULL worklog_total, not 0 (§2.10-2).
    */
  val q06ChildRollup: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    Relational
      .childRollup(
        o,
        li,
        "o_orderkey",
        "l_orderkey",
        Seq(sumDec(col("l_quantity")).as("worklog_total"), count(lit(1)).as("n_entries")))
      .select(
        col("o_orderkey"),
        col("worklog_total"),
        coalesce(col("n_entries"), lit(0L)).as("n_entries"),
        coalesce(col("worklog_total"), lit(0.0)).as("linked_total"))
      .orderBy(col("o_orderkey"))
  }

  val q06Sql: String =
    """WITH rolled AS (
      | SELECT l_orderkey,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS worklog_total,
      |  COUNT(*) AS n_entries
      | FROM lineitem GROUP BY l_orderkey)
      |SELECT o_orderkey, r.worklog_total,
      | COALESCE(r.n_entries, 0) AS n_entries,
      | COALESCE(r.worklog_total, 0.0) AS linked_total
      |FROM orders o LEFT JOIN rolled r ON o.o_orderkey = r.l_orderkey
      |ORDER BY o_orderkey NULLS FIRST""".stripMargin

  /** q07 — the flagship delta computation (SURVEY.md §2.7 F4 + §2.10-1,
    * reference helpers.js:309-321): estimated vs actual effort per
    * parent, with the falsy guard — estimated or actual NULL **or 0**
    * yields NULL delta and delta_percentage, and the symmetric
    * percent-difference formula (helpers.js:296-302). Orders without
    * lineitems exercise the NULL branch naturally.
    */
  val q07Delta: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val actual = li
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(sumDiscPrice(col("l_extendedprice"), col("l_discount")).as("actual"))
    o.join(actual, Seq("o_orderkey"), "left")
      .select(
        col("o_orderkey"),
        col("o_totalprice").as("estimated"),
        col("actual"),
        deltaCol(col("o_totalprice"), col("actual")).as("delta"),
        deltaPercentageCol(col("o_totalprice"), col("actual")).as("delta_percentage"))
      .orderBy(col("o_orderkey"))
  }

  val q07Sql: String =
    """WITH actual AS (
      | SELECT l_orderkey AS o_orderkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS actual
      | FROM lineitem GROUP BY l_orderkey)
      |SELECT o.o_orderkey, o.o_totalprice AS estimated, a.actual,
      | CASE WHEN COALESCE(o.o_totalprice, 0.0) = 0.0 OR COALESCE(a.actual, 0.0) = 0.0 THEN NULL
      |      ELSE o.o_totalprice - a.actual END AS delta,
      | CASE WHEN COALESCE(o.o_totalprice, 0.0) = 0.0 OR COALESCE(a.actual, 0.0) = 0.0 THEN NULL
      |      ELSE (o.o_totalprice - a.actual) / ((o.o_totalprice + a.actual) / 2.0) * 100.0 END AS delta_percentage
      |FROM orders o LEFT JOIN actual a ON o.o_orderkey = a.o_orderkey
      |ORDER BY o.o_orderkey NULLS FIRST""".stripMargin

  /** q08 — quality gate accounting (SURVEY.md §2.6 Q1, reference
    * etl.js:249-278): anti-join the parents against "errored" keys
    * (orders with no lineitems play the role of feasibilities whose
    * supplemental fetch failed), then percentChangeAbs
    * (helpers.js:234-240) over the before/after counts.
    */
  val q08QualityGate: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val errored = o.join(
      li.select(col("l_orderkey").as("o_orderkey")).distinct(),
      Seq("o_orderkey"),
      "left_anti")
    Relational.qualityGateStats(o, errored.select("o_orderkey"), "o_orderkey")
  }

  val q08Sql: String =
    """WITH errored AS (
      | SELECT o_orderkey FROM orders o
      | WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
      |SELECT (SELECT COUNT(*) FROM orders) AS old_count,
      | (SELECT COUNT(*) FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM errored)) AS new_count,
      | ABS(((SELECT COUNT(*) FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM errored)) * 1.0
      |      - (SELECT COUNT(*) FROM orders))
      |     / ABS((SELECT COUNT(*) FROM orders) * 1.0)) * 100.0 AS pct_change""".stripMargin

  /** q09 — dimension get-or-create with dense surrogate ids
    * (SURVEY.md §2.8 G1/G2, reference schema.sql:105-134): the distinct
    * name domain of two columns (as reviewer ∪ reporter both resolve
    * through get_user_id, schema.sql:147-149) assigned deterministic
    * dense ids.
    */
  val q09DimIds: Q = (s, d) => {
    val names = Tables
      .customer(s, d)
      .select(col("c_mktsegment").as("name"))
      .union(Tables.orders(s, d).select(col("o_orderpriority").as("name")))
    val empty = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(
        Seq(
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType))))
    Relational.dimGetOrCreate(empty, names).orderBy(col("id"))
  }

  val q09Sql: String =
    """SELECT ROW_NUMBER() OVER (ORDER BY name) AS id, name
      |FROM (SELECT DISTINCT c_mktsegment AS name FROM customer
      |      UNION SELECT DISTINCT o_orderpriority FROM orders)
      |ORDER BY id""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q01_pricing_summary", q01PricingSummary, q01Sql),
    Query("q02_scan_filter_project", q02ScanFilterProject, q02Sql),
    Query("q03_topk", q03TopK, q03Sql),
    Query("q04_denorm_view", q04DenormView, q04Sql),
    Query("q05_nation_revenue", q05NationRevenue, q05Sql),
    Query("q06_child_rollup", q06ChildRollup, q06Sql),
    Query("q07_delta", q07Delta, q07Sql),
    Query("q08_quality_gate", q08QualityGate, q08Sql),
    Query("q09_dim_ids", q09DimIds, q09Sql))
}
