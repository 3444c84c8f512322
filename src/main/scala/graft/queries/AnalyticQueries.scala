package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Scalars._
import graft.queries.CoreQueries.Q

/** Analytic operators beyond the reference's own surface (SURVEY.md
  * §2.11 marks these absent in the reference) — windows, grouping sets,
  * set ops, semi/anti joins, JSON extraction, event-time bucketing,
  * sessionization, array folds. Same determinism contract as
  * CoreQueries.
  */
object AnalyticQueries {

  /** q10 — rollup / grouping sets over the region→nation hierarchy.
    * Spark `rollup` emits NULL for aggregated levels exactly like SQL
    * ROLLUP. Exact decimal sums for the measure.
    */
  val q10Rollup: Q = (s, d) => {
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), sumDec(col("c_acctbal")).as("sum_acctbal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  val q10Sql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
      |FROM customer c
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin

  /** q11 — window functions: rank / row_number / running sum / lag per
    * market segment. Running sum accumulates in decimal (exact under
    * any partitioning); ordering carries a unique tie-break key so both
    * engines rank identically.
    */
  val q11Window: Q = (s, d) => {
    val w = Window
      .partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables
      .customer(s, d)
      .select(
        col("c_mktsegment"),
        col("c_custkey"),
        col("c_acctbal"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rnk"),
        sum(dec4(col("c_acctbal")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double")
          .as("running_bal"),
        lag(col("c_acctbal"), 1).over(w).as("prev_bal"))
      .filter(col("rn") <= 5)
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  val q11Sql: String =
    """SELECT * FROM (
      | SELECT c_mktsegment, c_custkey, c_acctbal,
      |  CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
      |  CAST(RANK() OVER w AS BIGINT) AS rnk,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_bal,
      |  LAG(c_acctbal, 1) OVER w AS prev_bal
      | FROM customer
      | WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey))
      |WHERE rn <= 5
      |ORDER BY c_mktsegment NULLS FIRST, rn NULLS FIRST""".stripMargin

  /** q12 — set operations (distinct semantics in both engines): the
    * customer-key sets of two order-priority classes, tagged by
    * intersect / except-left / except-right membership.
    */
  val q12SetOps: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val a = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val b = o.filter(col("o_orderpriority") === "5-LOW").select(col("o_custkey"))
    a.intersect(b)
      .select(lit("both").as("tag"), col("o_custkey"))
      .union(a.except(b).select(lit("urgent_only").as("tag"), col("o_custkey")))
      .union(b.except(a).select(lit("low_only").as("tag"), col("o_custkey")))
      .orderBy(col("tag"), col("o_custkey"))
  }

  val q12Sql: String =
    """WITH a AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
      |     b AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
      |SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
      |UNION ALL
      |SELECT 'urgent_only' AS tag, o_custkey FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
      |UNION ALL
      |SELECT 'low_only' AS tag, o_custkey FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)
      |ORDER BY tag NULLS FIRST, o_custkey NULLS FIRST""".stripMargin

  /** q13 — semi / anti joins (the quality gate Q1 is the reference's
    * implicit anti-join; the semi side is the natural complement):
    * suppliers with vs without any lineitem.
    */
  val q13SemiAnti: Q = (s, d) => {
    val sup = Tables.supplier(s, d)
    val li = Tables.lineitem(s, d).select(col("l_suppkey").as("s_suppkey"))
    sup
      .join(li, Seq("s_suppkey"), "left_semi")
      .select(lit("active").as("tag"), col("s_suppkey"), col("s_name"))
      .union(
        sup
          .join(li, Seq("s_suppkey"), "left_anti")
          .select(lit("inactive").as("tag"), col("s_suppkey"), col("s_name")))
      .orderBy(col("tag"), col("s_suppkey"))
  }

  val q13Sql: String =
    """SELECT 'active' AS tag, s_suppkey, s_name FROM supplier s
      |WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
      |UNION ALL
      |SELECT 'inactive' AS tag, s_suppkey, s_name FROM supplier s
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
      |ORDER BY tag NULLS FIRST, s_suppkey NULLS FIRST""".stripMargin

  /** q14 — JSON extraction (SURVEY.md §2.7 F6 inverse: the reference
    * stringifies nested structs; the engine also parses them back —
    * `from_json`/`get_json_object` over the events props column).
    */
  val q14Json: Q = (s, d) => {
    Tables
      .events(s, d)
      .select(
        // try_cast, not cast: a non-numeric k value must group under
        // NULL, not crash the scan — ANSI cast THROWS on malformed
        // input where DuckDB's plain CAST errors too; TRY_CAST is the
        // shared total semantic (adversarial-fixture finding).
        expr("try_cast(get_json_object(props, '$.k') AS INT)").as("k"),
        col("value"),
        col("event_type"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_value"))
      .orderBy(col("k").asc_nulls_first)
  }

  val q14Sql: String =
    """SELECT TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY k NULLS FIRST""".stripMargin

  /** q15 — event-time tumbling-window aggregation (batch parity of the
    * streaming path, SURVEY.md §7 green-field): 1-hour buckets as epoch
    * hours. Bucket floors are stable under the ns→µs truncation gap
    * between engines, so no raw timestamps appear in the output.
    */
  val q15EventWindows: Q = (s, d) => {
    Tables
      .events(s, d)
      .select(
        floor(col("ts_us") / lit(3600000000.0)).cast("long").as("hour_bucket"),
        col("event_type"),
        col("value"))
      .groupBy(col("hour_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumDec(col("value")).as("sum_value"))
      .orderBy(col("hour_bucket"), col("event_type"))
  }

  val q15Sql: String =
    """SELECT CAST(FLOOR(epoch_ms(ts) / 3600000.0) AS BIGINT) AS hour_bucket,
      | event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_bucket NULLS FIRST, event_type NULLS FIRST""".stripMargin

  /** q16 — sessionization (gap > 30 min starts a new session): lag +
    * conditional flag + running sum per user, the batch shape of the
    * streaming `flatMapGroupsWithState` sessionizer. All time math in
    * epoch microseconds, where both engines agree after ns→µs
    * truncation; (us, event_id) is a unique total order per user.
    */
  val q16Sessionize: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val gapUs = 30L * 60L * 1000000L
    Tables
      .events(s, d)
      // an event without a time cannot be ordered into a session — the
      // catalog's readable-rows null contract; also the engines order
      // NULLs oppositely (Spark FIRST, DuckDB LAST), so an unfiltered
      // NULL ts would silently shift every subsequent gap (caught by
      // the round-10 NULL-event-time fuzz probe)
      .filter(col("ts_us").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts_us").as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
      .withColumn(
        "new_sess",
        when(col("gap").isNull || col("gap") > lit(gapUs), lit(1L)).otherwise(lit(0L)))
      .withColumn(
        "sess_id",
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), max(col("sess_id")).as("n_sessions"))
      .orderBy(col("user_id"))
  }

  val q16Sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events WHERE ts IS NOT NULL),
      |g AS (SELECT user_id, event_id, us,
      |  CASE WHEN LAG(us) OVER w IS NULL OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
      | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |s AS (SELECT user_id,
      |  SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
      | FROM g)
      |SELECT user_id, COUNT(*) AS n_events, CAST(MAX(sess_id) AS BIGINT) AS n_sessions
      |FROM s GROUP BY user_id
      |ORDER BY user_id NULLS FIRST""".stripMargin

  /** q17 — array fold (SURVEY.md §1.1: the reference's worklog
    * `array<struct>` with a pre-aggregated total; helpers.js:124-133):
    * per-vector element sum and squared-norm over the embedding array,
    * accumulated in decimal so the fold is exact and order-independent.
    */
  val q17ArrayFold: Q = (s, d) => {
    val decT = "decimal(28,10)"
    Tables
      .embeddings(s, d)
      .filter(col("vec_id") < 50)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        aggregate(
          col("embedding"),
          lit(0).cast(decT),
          // float→double first: the double is the float's exact value, so
          // the decimal cast agrees bit-for-bit with DuckDB's float cast
          // (casting float→decimal directly goes through the float's
          // 9-digit shortest repr in Spark and drifts ~1e-10/element)
          (acc, x) => (acc + x.cast("double").cast(decT)).cast(decT)).cast("double").as("elem_sum"),
        aggregate(
          col("embedding"),
          lit(0).cast(decT),
          (acc, x) => (acc + (x.cast("double") * x.cast("double")).cast(decT)).cast(decT))
          .cast("double")
          .as("sq_norm"))
      .orderBy(col("vec_id"))
  }

  val q17Sql: String =
    """SELECT vec_id, CAST(LEN(embedding) AS BIGINT) AS dim,
      | CAST(SUM(CAST(CAST(e AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS elem_sum,
      | CAST(SUM(CAST(CAST(e AS DOUBLE) * CAST(e AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) AS sq_norm
      |FROM (SELECT vec_id, embedding, UNNEST(embedding) AS e FROM embeddings WHERE vec_id < 50)
      |GROUP BY vec_id, embedding
      |ORDER BY vec_id NULLS FIRST""".stripMargin

  /** q18 — explode / unnest (SURVEY.md §2.3 P2: the reference explodes
    * issue links; `posexplode` here): embedding elements with their
    * positions, raw float values (no arithmetic, bit-exact).
    */
  val q18Explode: Q = (s, d) => {
    Tables
      .embeddings(s, d)
      .filter(col("vec_id") < 5)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "val")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"), col("val"))
      .orderBy(col("vec_id"), col("pos"))
  }

  val q18Sql: String =
    """SELECT vec_id, CAST(GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS BIGINT) AS pos,
      | UNNEST(embedding) AS val
      |FROM embeddings WHERE vec_id < 5
      |ORDER BY vec_id NULLS FIRST, pos NULLS FIRST""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q10_rollup", q10Rollup, q10Sql),
    Query("q11_window", q11Window, q11Sql),
    Query("q12_setops", q12SetOps, q12Sql),
    Query("q13_semi_anti", q13SemiAnti, q13Sql),
    Query("q14_json_extract", q14Json, q14Sql),
    Query("q15_event_windows", q15EventWindows, q15Sql),
    Query("q16_sessionize", q16Sessionize, q16Sql),
    Query("q17_array_fold", q17ArrayFold, q17Sql),
    Query("q18_explode", q18Explode, q18Sql))
}
