package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Scalars.{dec4, sumDec}
import graft.functions.{KV, TopKByValue}
import graft.operators.Relational
import graft.queries.CoreQueries.Q

/** Statistical / multidimensional aggregation surface (distinct
  * aggregates, cube + grouping ids, pivot, discrete quantiles, typed
  * UDAF) — categories §2.11 marks absent from the reference, completed
  * here with the same determinism contract as every other catalog.
  */
object StatQueries {

  /** q33 — distinct aggregates: exact per-group distinct cardinalities.
    * (The approximate twin is `approx_count_distinct` — HLL — which has
    * no cross-engine-stable value, so the exact form is the gated one.)
    */
  val q33DistinctAgg: Q = (s, d) =>
    Tables
      .orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        sumDec(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))

  val q33Sql: String =
    """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers,
      | COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority NULLS FIRST""".stripMargin

  /** q34 — CUBE with grouping ids: all four aggregation levels of
    * (region, nation) plus the standard grouping-bit vector (region =
    * MSB in both engines).
    */
  val q34Cube: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .cube(col("r_name"), col("n_name"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_customers"),
        sumDec(col("c_acctbal")).as("sum_acctbal"))
      .orderBy(col("gid"), col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  val q34Sql: String =
    """SELECT r_name, n_name,
      | CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
      | COUNT(*) AS n_customers,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
      |FROM customer c
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY CUBE (r_name, n_name)
      |ORDER BY gid NULLS FIRST, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin

  /** q35 — pivot: linestatus values become columns (explicit value list
    * — at scale an implicit pivot means an extra distinct pass). The
    * oracle is the FILTERed-aggregate formulation, the portable
    * equivalent.
    */
  val q35Pivot: Q = (s, d) =>
    Tables
      .lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sumDec(col("l_quantity")))
      .orderBy(col("l_returnflag"))

  val q35Sql: String =
    """SELECT l_returnflag,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS "F",
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS "O"
      |FROM lineitem GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin

  /** q36 — discrete quantiles (p50/p90) per group via
    * [[Relational.groupedDiscreteQuantiles]] — interpolation-free on
    * purpose: continuous-percentile FP formulas differ between engines
    * in the last ulp, while the discrete rank picks an actual data
    * value identically everywhere. The oracle stays the window
    * formulation; the Spark side range-partitions on (flag, quantity)
    * so parallelism comes from the VALUE ranges — the earlier
    * `row_number() OVER (PARTITION BY l_returnflag ...)` put the whole
    * fact table through 3 reducer tasks (the low-cardinality-key
    * window cliff at 100×), which the gate proves result-identical to
    * this per-group order-statistics plan.
    */
  val q36Quantiles: Q = (s, d) =>
    Relational
      .groupedDiscreteQuantiles(
        Tables.lineitem(s, d).select(col("l_returnflag"), col("l_quantity")),
        "l_returnflag",
        "l_quantity",
        Seq(0.5, 0.9),
        numPartitions = 32)
      .withColumnRenamed("q0", "p50")
      .withColumnRenamed("q1", "p90")
      .orderBy(col("l_returnflag"))

  val q36Sql: String =
    """SELECT l_returnflag,
      | MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN l_quantity END) AS p50,
      | MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT) THEN l_quantity END) AS p90
      |FROM (SELECT l_returnflag, l_quantity,
      |  ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
      |  COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      | FROM lineitem)
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST""".stripMargin

  /** q37 — typed UDAF: bounded top-3 orders by totalprice per market
    * segment through the [[TopKByValue]] `Aggregator` (map-side
    * bounded buffers, k rows shipped per group per partition). The
    * oracle is the window formulation — the gate proves the
    * heap-aggregate rewrite result-identical.
    */
  val q37TopKUdaf: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val joined = o
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(
        col("c_mktsegment").as("segment"),
        col("o_orderkey").as("key"),
        col("o_totalprice").as("value"))
      .as[(String, Long, Double)]
    joined
      .groupByKey(_._1)
      .mapValues(t => KV(t._2, t._3))
      .agg(new TopKByValue(3).toColumn.name("topk"))
      .toDF("segment", "topk")
      .select(col("segment"), posexplode(col("topk")).as(Seq("pos", "kv")))
      .select(
        col("segment"),
        (col("pos") + 1).cast("long").as("rank"),
        col("kv.key").as("o_orderkey"),
        col("kv.value").as("o_totalprice"))
      .orderBy(col("segment"), col("rank"))
  }

  val q37Sql: String =
    """SELECT c_mktsegment AS segment, CAST(rn AS BIGINT) AS rank, o_orderkey, o_totalprice
      |FROM (SELECT c_mktsegment, o_orderkey, o_totalprice,
      |  ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rn
      | FROM orders JOIN customer ON o_custkey = c_custkey)
      |WHERE rn <= 3
      |ORDER BY segment NULLS FIRST, rank NULLS FIRST""".stripMargin

  /** q38 — non-equi range join: events bucketed into value tiers via
    * `lo <= v < hi`. The tier table is tiny, so the right plan is a
    * broadcast nested-loop join (range conditions have no hash key) —
    * the fact side streams, the tier table broadcasts; at scale this
    * is the only join shape that doesn't shuffle the fact.
    */
  val q38RangeJoin: Q = (s, d) => {
    import s.implicits._
    val tiers = Seq(
      (0.0, 100.0, "low"),
      (100.0, 300.0, "mid"),
      (300.0, 1000.0, "high")).toDF("lo", "hi", "tier")
    Tables
      .events(s, d)
      .join(broadcast(tiers), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_value"))
      .orderBy(col("tier"))
  }

  val q38Sql: String =
    """SELECT tier, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |JOIN (VALUES (0.0, 100.0, 'low'), (100.0, 300.0, 'mid'), (300.0, 1000.0, 'high'))
      |  AS t(lo, hi, tier) ON value >= lo AND value < hi
      |GROUP BY tier
      |ORDER BY tier NULLS FIRST""".stripMargin

  /** q39 — keep-latest dedup (the CDC/compaction shape): one row per
    * customer, the most recent order by (o_orderdate desc, tie-break
    * o_orderkey) via row_number = 1. One window shuffle on the dedup
    * key — the standard "latest snapshot" pass a 100 TB upsert
    * compaction runs.
    */
  val q39KeepLatest: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey"))
    Tables
      .orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }

  val q39Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey) AS rn
      | FROM orders)
      |WHERE rn = 1
      |ORDER BY o_custkey NULLS FIRST""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q33_distinct_agg", q33DistinctAgg, q33Sql),
    Query("q34_cube", q34Cube, q34Sql),
    Query("q35_pivot", q35Pivot, q35Sql),
    Query("q36_quantiles", q36Quantiles, q36Sql),
    Query("q37_topk_udaf", q37TopKUdaf, q37Sql),
    Query("q38_range_join", q38RangeJoin, q38Sql),
    Query("q39_keep_latest", q39KeepLatest, q39Sql))
}
