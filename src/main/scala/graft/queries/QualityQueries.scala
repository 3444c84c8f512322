package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Scalars.{dec4, sumDec, sumDiscPrice}
import graft.operators.Relational
import graft.queries.CoreQueries.Q

/** Round-3 batch 2: conditional aggregation, deterministic string
  * aggregation, min_by/max_by, exact-moment statistics (variance and
  * correlation from decimal sums), calendar densification, percent-of-
  * total, the TPC-H Q3 star-join shape, repetition quality signals,
  * bitwise aggregates, and full-outer joins.
  *
  * Determinism notes specific to this batch:
  *  - every double→bigint conversion goes through `round(...)` first —
  *    Spark truncates a bare double→bigint cast, DuckDB rounds it;
  *  - min_by/max_by ties are eliminated structurally: the ordering key
  *    is a composite integer ordinal that embeds the unique row key;
  *  - variance/corr are never computed with engine `var_pop`/`corr`
  *    (double accumulation is order-dependent): decimal power sums
  *    first, one shared double formula at the end.
  */
object QualityQueries {

  /** q61 — conditional aggregation: per order priority, the count and
    * exact revenue of high-value orders next to the totals (the
    * `FILTER (WHERE ...)` / `count_if` shape — one pass, no self-join).
    */
  val q61CondAgg: Q = (s, d) =>
    Tables
      .orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_total"),
        expr("count_if(o_totalprice > 300000)").as("n_high"),
        sum(when(col("o_totalprice") > 300000, dec4(col("o_totalprice"))).otherwise(lit(0).cast("decimal(18,4)")))
          .cast("double")
          .as("rev_high"),
        sumDec(col("o_totalprice")).as("rev_total"))
      .orderBy(col("o_orderpriority"))

  val q61Sql: String =
    """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_total,
      | CAST(COUNT(*) FILTER (WHERE o_totalprice > 300000) AS BIGINT) AS n_high,
      | CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,4))) FILTER (WHERE o_totalprice > 300000), 0) AS DOUBLE) AS rev_high,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev_total
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority NULLS FIRST""".stripMargin

  /** q62 — deterministic string aggregation (listagg): member names per
    * nation, sort-pinned. `collect_list` order is partition-dependent,
    * so the list is always `array_sort`ed before joining — the only
    * listagg that is reproducible under any parallelism.
    */
  val q62StringAgg: Q = (s, d) =>
    Tables
      .customer(s, d)
      .filter(col("c_custkey") <= 300)
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n"),
        array_join(array_sort(collect_list(col("c_name"))), "|").as("members"))
      .orderBy(col("c_nationkey"))

  val q62Sql: String =
    """SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
      | string_agg(c_name, '|' ORDER BY c_name) AS members
      |FROM customer WHERE c_custkey <= 300
      |GROUP BY c_nationkey ORDER BY c_nationkey NULLS FIRST""".stripMargin

  /** q63 — min_by/max_by: each status's cheapest and priciest order.
    * Ties on price are broken by embedding the unique order key into an
    * integer ordinal (`round(price·100)·10^10 + key` — cents are exact,
    * the composite fits a bigint), because engine-native arg_min/max
    * tie-breaking is undefined.
    */
  val q63MinByMaxBy: Q = (s, d) =>
    Tables
      .orders(s, d)
      .select(
        col("o_orderstatus"),
        col("o_orderkey"),
        (round(col("o_totalprice") * 100).cast("long") * lit(10000000000L) + col("o_orderkey"))
          .as("ord"))
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("min_by(o_orderkey, ord)").as("cheapest_key"),
        expr("max_by(o_orderkey, ord)").as("priciest_key"))
      .orderBy(col("o_orderstatus"))

  val q63Sql: String =
    """WITH o AS (SELECT o_orderstatus, o_orderkey,
      |  CAST(round(o_totalprice * 100) AS BIGINT) * 10000000000 + o_orderkey AS ord FROM orders)
      |SELECT o_orderstatus, arg_min(o_orderkey, ord) AS cheapest_key, arg_max(o_orderkey, ord) AS priciest_key
      |FROM o GROUP BY o_orderstatus ORDER BY o_orderstatus NULLS FIRST""".stripMargin

  /** q64 — exact-moment statistics: mean, population variance, and the
    * quantity↔discount correlation per return flag, all derived from
    * exact decimal power sums (Σx, Σx², Σy, Σy², Σxy, n) with ONE
    * shared double formula at the end. Engine-native `var_pop`/`corr`
    * accumulate doubles in partition order and are not reproducible;
    * this shape is — and it's still one aggregation pass.
    */
  val q64ExactMoments: Q = (s, d) => {
    val x = dec4(col("l_quantity"))
    val y = dec4(col("l_discount"))
    // five decimal multiplications + sums per row: spread a few-splits
    // input so the partial aggregation parallelizes
    Relational
      .spreadFewSplits(
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"), col("l_discount")),
        "l_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"),
        sum(x * x).as("sxx"),
        sum(y).as("sy"),
        sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
      .select(
        col("l_returnflag"),
        col("n"),
        (col("sx").cast("double") / col("n").cast("double")).as("mean_qty"),
        ((col("n").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
          (col("n").cast("double") * col("n").cast("double"))).as("var_qty"),
        ((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          sqrt(
            (col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
              (col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double")))).as("corr_qty_disc"))
      .orderBy(col("l_returnflag"))
  }

  val q64Sql: String =
    """WITH m AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sy,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS syy,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sxy
      | FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      | sx / CAST(n AS DOUBLE) AS mean_qty,
      | (CAST(n AS DOUBLE) * sxx - sx * sx) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_qty,
      | (CAST(n AS DOUBLE) * sxy - sx * sy)
      |   / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_qty_disc
      |FROM m ORDER BY l_returnflag NULLS FIRST""".stripMargin

  /** q65 — calendar densification: generate every month of the order
    * horizon (`sequence` + explode — the dimension is tiny and
    * broadcast), left-join the monthly revenue rollup, zero-fill gaps.
    * The standard fix for "months with no sales vanish from the
    * report"; at scale the generated calendar is the broadcast side.
    */
  val q65CalendarFill: Q = (s, d) => {
    val months = s
      .range(1)
      .select(explode(sequence(
        to_date(lit("1995-01-01")),
        to_date(lit("2001-12-01")),
        expr("interval 1 month"))).as("dt"))
      .select(year(col("dt")).cast("long").as("y"), month(col("dt")).cast("long").as("m"))
    val rev = Tables
      .orders(s, d)
      .groupBy(
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"))
      .agg(count(lit(1)).as("cnt"), sumDec(col("o_totalprice")).as("revenue"))
    months
      .join(rev, Seq("y", "m"), "left")
      .select(
        col("y"),
        col("m"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"))
      .orderBy(col("y"), col("m"))
  }

  val q65Sql: String =
    """WITH cal AS (SELECT CAST(year(dt) AS BIGINT) AS y, CAST(month(dt) AS BIGINT) AS m
      |  FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '2001-12-01', INTERVAL 1 MONTH)) AS dt)),
      |rev AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS y, CAST(month(o_orderdate) AS BIGINT) AS m,
      |  CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      | FROM orders GROUP BY 1,2)
      |SELECT y, m, COALESCE(cnt, 0) AS cnt, COALESCE(revenue, 0.0) AS revenue
      |FROM cal LEFT JOIN rev USING (y, m)
      |ORDER BY y NULLS FIRST, m NULLS FIRST""".stripMargin

  /** q66 — percent of total: each nation's share of global revenue.
    * Exact decimal sums per nation; the grand total is a 1-row
    * re-aggregate of the 25-row nation frame, broadcast back via cross
    * join — NOT an unpartitioned window: the window form emits the
    * `WindowExec: No Partition Defined` warning on every run, and a
    * noisy bench tail would bury a REAL single-partition regression
    * elsewhere (decimal sums are order-exact, so the re-aggregate is
    * bit-identical to the window's total). The share is a double ratio
    * of two exact sums.
    */
  val q66PctOfTotal: Q = (s, d) => {
    val rev = Tables
      .orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec4(col("o_totalprice"))).as("rev"))
    val total = rev.agg(sum(col("rev")).as("total"))
    rev
      .crossJoin(broadcast(total))
      .select(
        col("n_name"),
        col("rev").cast("double").as("revenue"),
        (col("rev").cast("double") / col("total").cast("double")).as("share"))
      .orderBy(col("n_name"))
  }

  val q66Sql: String =
    """WITH rev AS (SELECT n.n_name, SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS rev
      | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      | JOIN nation n ON c.c_nationkey = n.n_nationkey
      | GROUP BY n.n_name)
      |SELECT n_name, CAST(rev AS DOUBLE) AS revenue,
      | CAST(rev AS DOUBLE) / CAST(SUM(rev) OVER () AS DOUBLE) AS share
      |FROM rev ORDER BY n_name NULLS FIRST""".stripMargin

  /** q67 — the TPC-H Q3 star-join shape: segment-filtered customers ⋈
    * date-filtered orders ⋈ shipped-later lineitems, top-10 orders by
    * exact revenue. The plan to want at 100 TB: both filters pushed to
    * the scans, customer side broadcast after filtering, one shuffle
    * on orderkey for the agg, TakeOrderedAndProject for the top-k.
    */
  val q67StarJoin: Q = (s, d) =>
    Tables
      .customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
      .join(
        Tables.orders(s, d).filter(col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
        col("c_custkey") === col("o_custkey"))
      .join(
        Tables.lineitem(s, d).filter(col("l_shipdate") > to_timestamp(lit("1997-06-30"))),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(
        col("l_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        month(col("o_orderdate")).cast("long").as("o_month"))
      .agg(sumDiscPrice(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  val q67Sql: String =
    """SELECT l.l_orderkey,
      | CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
      | CAST(month(o.o_orderdate) AS BIGINT) AS o_month,
      | CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1.0 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l.l_shipdate > TIMESTAMP '1997-06-30'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  /** q68 — repetition quality signal: unique-token ratio and top-token
    * frequency share per document — the cheap boilerplate/spam detector
    * every pretraining filter stack runs. One explode + two hash aggs,
    * all keyed by doc_id: linear, no window over the corpus.
    */
  val q68Repetition: Q = (s, d) => {
    val toks = Tables
      .documents(s, d)
      .filter(col("doc_id") < 400)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    toks
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_unique"),
        max(col("c")).as("top_freq"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        (col("n_unique").cast("double") / col("n_tokens").cast("double")).as("unique_ratio"),
        (col("top_freq").cast("double") / col("n_tokens").cast("double")).as("rep_share"))
      .orderBy(col("doc_id"))
  }

  val q68Sql: String =
    """WITH t AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents WHERE doc_id < 400),
      |c AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM t WHERE tok <> '' GROUP BY 1,2),
      |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS n_unique,
      |      CAST(MAX(c) AS BIGINT) AS top_freq FROM c GROUP BY doc_id)
      |SELECT doc_id, n_tokens,
      | CAST(n_unique AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS unique_ratio,
      | CAST(top_freq AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS rep_share
      |FROM a ORDER BY doc_id NULLS FIRST""".stripMargin

  /** q69 — bitwise aggregates: OR/AND/XOR folds of a flag byte per
    * event type (feature-flag rollups; order-independent by
    * construction, so freely parallel).
    */
  val q69BitOps: Q = (s, d) =>
    Tables
      .events(s, d)
      .select(col("event_type"), pmod(col("user_id"), lit(256L)).as("b"))
      .groupBy(col("event_type"))
      .agg(
        expr("bit_or(b)").as("flags_or"),
        expr("bit_and(b)").as("flags_and"),
        expr("bit_xor(b)").as("flags_xor"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  val q69Sql: String =
    """SELECT event_type,
      | CAST(bit_or(user_id % 256) AS BIGINT) AS flags_or,
      | CAST(bit_and(user_id % 256) AS BIGINT) AS flags_and,
      | CAST(bit_xor(user_id % 256) AS BIGINT) AS flags_xor,
      | CAST(COUNT(*) AS BIGINT) AS n
      |FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin

  /** q70 — full-outer join: the customer↔order-count reconciliation
    * with unmatched rows preserved on BOTH sides (customers without
    * orders, order keys outside the customer slice). USING-style key
    * coalescing — the join column is single and never null.
    */
  val q70FullOuter: Q = (s, d) => {
    val c = Tables
      .customer(s, d)
      .filter(col("c_custkey") <= 100)
      .select(col("c_custkey").as("k"), col("c_name"))
    val o = Tables
      .orders(s, d)
      .filter(col("o_custkey").between(50, 150))
      .groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("n_orders"))
    c.join(o, Seq("k"), "full_outer")
      .select(
        col("k"),
        col("c_name"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      .orderBy(col("k"))
  }

  val q70Sql: String =
    """WITH c AS (SELECT c_custkey AS k, c_name FROM customer WHERE c_custkey <= 100),
      |o AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_orders
      |      FROM orders WHERE o_custkey BETWEEN 50 AND 150 GROUP BY 1)
      |SELECT k, c_name, COALESCE(n_orders, 0) AS n_orders
      |FROM c FULL OUTER JOIN o USING (k)
      |ORDER BY k NULLS FIRST""".stripMargin

  /** q71 — multiple DISTINCT aggregates in one pass: Catalyst plans
    * n distinct aggregates as ONE Expand (n-fold row replication
    * map-side) + two aggregations — not n self-joins. The plain
    * aggregates ride along free.
    */
  val q71MultiDistinct: Q = (s, d) =>
    Tables
      .events(s, d)
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("nd_users"),
        countDistinct(pmod(col("event_id"), lit(97L))).as("nd_idmod"),
        count(lit(1)).as("n"),
        sum(dec4(col("value"))).cast("double").as("sum_value"))
      .orderBy(col("event_type"))

  val q71Sql: String =
    """SELECT event_type,
      | CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nd_users,
      | CAST(COUNT(DISTINCT event_id % 97) AS BIGINT) AS nd_idmod,
      | CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin

  /** q72 — schema-evolution union: a new batch missing a column unions
    * with the old batch, nulls filling the gap
    * (`unionByName(allowMissingColumns)` — position-blind, the only
    * union safe under column reordering across file generations).
    */
  val q72UnionByName: Q = (s, d) => {
    val withPrice = Tables
      .orders(s, d)
      .filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"), col("o_orderstatus"))
    val without = Tables
      .orders(s, d)
      .filter(col("o_orderkey").between(2000, 5000))
      .select(col("o_orderkey").as("k"), col("o_orderstatus"))
    withPrice
      .unionByName(without, allowMissingColumns = true)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("p")).as("n_with_price"),
        sum(dec4(col("p"))).cast("double").as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  val q72Sql: String =
    """WITH u AS (
      | SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus FROM orders WHERE o_orderkey < 2000
      | UNION ALL BY NAME
      | SELECT o_orderkey AS k, o_orderstatus FROM orders WHERE o_orderkey BETWEEN 2000 AND 5000)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
      | CAST(COUNT(p) AS BIGINT) AS n_with_price,
      | CAST(SUM(CAST(p AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM u GROUP BY o_orderstatus ORDER BY o_orderstatus NULLS FIRST""".stripMargin

  /** q73 — inline literal dimension decode: a tiny VALUES table joined
    * (broadcast, trivially) to classify priorities, left join + default
    * for unmapped values. The lookup-table pattern that at scale stays
    * a broadcast, never a shuffle.
    */
  val q73InlineDim: Q = (s, d) => {
    import s.implicits._
    val cls = Seq(("1-URGENT", "fast"), ("2-HIGH", "fast"), ("3-MEDIUM", "mid"))
      .toDF("pri", "cls")
    Tables
      .orders(s, d)
      .join(broadcast(cls), col("o_orderpriority") === col("pri"), "left")
      .groupBy(coalesce(col("cls"), lit("slow")).as("priority_class"))
      .agg(count(lit(1)).as("n"), sumDec(col("o_totalprice")).as("revenue"))
      .orderBy(col("priority_class"))
  }

  val q73Sql: String =
    """SELECT COALESCE(t.cls, 'slow') AS priority_class, CAST(COUNT(*) AS BIGINT) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM orders o LEFT JOIN (VALUES ('1-URGENT','fast'),('2-HIGH','fast'),('3-MEDIUM','mid')) t(pri, cls)
      |  ON o.o_orderpriority = t.pri
      |GROUP BY 1 ORDER BY priority_class NULLS FIRST""".stripMargin

  /** q74 — CDC merge ([[graft.operators.Relational.applyChanges]]):
    * apply a deterministic change batch (deletes for doc_id≡0 (mod 7),
    * updates uppercasing lang for ≡1, inserts at doc_id+1000000 for ≡3)
    * to the documents snapshot. The oracle replays the same batch with
    * NOT IN + UNION ALL — the gate proves the anti-join+union rewrite
    * is MERGE-identical.
    */
  val q74CdcApply: Q = (s, d) => {
    // Raw scan, not Tables.documents: this query reads the snapshot
    // FOUR times (three change filters + the anti-join left side) and
    // does no per-row heavy compute, so the corpus spread's round-robin
    // exchange is pure overhead here (4 extra exchanges ≈ 2.6× the
    // ledger line; the raw scan has plenty of splits at real scale).
    val snap = Tables
      .table(s, d, "documents")
      .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("nc"))
    val changes = snap
      .filter(pmod(col("doc_id"), lit(7L)) === 0)
      .select(col("doc_id"), lit(null).cast("string").as("lang"), lit(null).cast("long").as("nc"), lit("D").as("op"))
      .unionByName(
        snap
          .filter(pmod(col("doc_id"), lit(7L)) === 1)
          .select(col("doc_id"), upper(col("lang")).as("lang"), col("nc"), lit("U").as("op")))
      .unionByName(
        snap
          .filter(pmod(col("doc_id"), lit(7L)) === 3)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"), col("nc"), lit("I").as("op")))
    graft.operators.Relational
      .applyChanges(snap, changes, Seq("doc_id"))
      .orderBy(col("doc_id"))
  }

  val q74Sql: String =
    """WITH s AS (SELECT doc_id, lang, CAST(len(text) AS BIGINT) AS nc FROM documents),
      |c AS (
      | SELECT doc_id, CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS nc, 'D' AS op FROM s WHERE doc_id % 7 = 0
      | UNION ALL SELECT doc_id, upper(lang), nc, 'U' FROM s WHERE doc_id % 7 = 1
      | UNION ALL SELECT doc_id + 1000000, lang, nc, 'I' FROM s WHERE doc_id % 7 = 3)
      |SELECT doc_id, lang, nc FROM s WHERE doc_id NOT IN (SELECT doc_id FROM c)
      |UNION ALL SELECT doc_id, lang, nc FROM c WHERE op IN ('I','U')
      |ORDER BY doc_id NULLS FIRST""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q61_cond_agg", q61CondAgg, q61Sql),
    Query("q62_string_agg", q62StringAgg, q62Sql),
    Query("q63_minby_maxby", q63MinByMaxBy, q63Sql),
    Query("q64_exact_moments", q64ExactMoments, q64Sql),
    Query("q65_calendar_fill", q65CalendarFill, q65Sql),
    Query("q66_pct_of_total", q66PctOfTotal, q66Sql),
    Query("q67_star_join", q67StarJoin, q67Sql),
    Query("q68_repetition", q68Repetition, q68Sql),
    Query("q69_bit_ops", q69BitOps, q69Sql),
    Query("q70_full_outer", q70FullOuter, q70Sql),
    Query("q71_multi_distinct", q71MultiDistinct, q71Sql),
    Query("q72_union_by_name", q72UnionByName, q72Sql),
    Query("q73_inline_dim", q73InlineDim, q73Sql),
    Query("q74_cdc_apply", q74CdcApply, q74Sql))
}
