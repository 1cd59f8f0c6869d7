package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Op, Tables}
import graft.functions._

/** General relational capability over the TPC-H-ish star schema:
  * multi-agg scans, star joins (broadcast dims), windows, semi-joins,
  * rollups, as-of joins, skew-safe aggregation. Everything is a
  * declarative plan — Catalyst handles pushdown/pruning/join selection;
  * the dims that should never shuffle are hinted through the stats
  * ledger ([[dimJoin]]/CostModel.statsJoin), so the hint is revoked at
  * plan time if a re-ANALYZE reports the "small" side grew.
  */
object RelationalQueries {

  private def ntz(s: String): Column = lit(s).cast(TimestampNTZType)

  /** Stats-driven dimension join ([[graft.plans.CostModel.statsJoin]]):
    * the bounded dims (nation=25, region=5) and filtered key lists
    * broadcast while the ANALYZE ledger says they still fit, and
    * degrade to a shuffle join the moment a re-ANALYZE reports growth —
    * a revocable version of the literal broadcast() hint these joins
    * used to carry. One ledger key per dim per lake, so every call
    * site agrees on the dim's size. */
  private def dimJoin(s: SparkSession, dir: String, fact: DataFrame,
      dim: DataFrame, statName: String, cond: Column,
      joinType: String = "inner"): DataFrame =
    graft.plans.CostModel.statsJoin(s, fact, dim, s"$dir#$statName", cond, joinType)(
      dim.count())

  // --- r1: TPC-H Q1-style pricing summary -----------------------------

  private def r1(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).filter(col("l_shipdate") <= ntz("1998-09-02 00:00:00"))
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")), 8).as("sum_charge"),
        dsum(col("l_discount"), 4, 4).as("sum_disc"),
        count(lit(1)).as("count_order"),
        count(lit(1)).cast(DoubleType).as("cnt_d"))
      .withColumn("avg_qty", ratio(col("sum_qty"), col("cnt_d")))
      .withColumn("avg_price", ratio(col("sum_base_price"), col("cnt_d")))
      .withColumn("avg_disc", ratio(col("sum_disc"), col("cnt_d")))
      .drop("sum_disc", "cnt_d")
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val r1Sql =
    s"""SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price,
       |       sum_disc_price, sum_charge, count_order,
       |       ${ratioSql("sum_qty", "cnt_d")} AS avg_qty,
       |       ${ratioSql("sum_base_price", "cnt_d")} AS avg_price,
       |       ${ratioSql("sum_disc", "cnt_d")} AS avg_disc
       |FROM (
       |  SELECT l_returnflag, l_linestatus,
       |         ${dsumSql("l_quantity")} AS sum_qty,
       |         ${dsumSql("l_extendedprice")} AS sum_base_price,
       |         ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS sum_disc_price,
       |         ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 8)} AS sum_charge,
       |         ${dsumSql("l_discount", 4, 4)} AS sum_disc,
       |         COUNT(*) AS count_order,
       |         CAST(COUNT(*) AS DOUBLE) AS cnt_d
       |  FROM lineitem
       |  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |  GROUP BY 1,2)
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --- r2: top customers by revenue (3-way join + top-N) ---------------

  private def r2(s: SparkSession, dir: String): DataFrame = {
    val c  = Tables.customer(s, dir)
    val o  = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    // no broadcast hint on customer: its cardinality scales with the
    // fact tables (TPC-H 150k × SF), so a forced broadcast OOMs at
    // scale — AQE picks broadcast at small SF and shuffle join beyond
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  private val r2Sql =
    s"""SELECT c_custkey, c_name,
       |       ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue,
       |       COUNT(*) AS n_lineitems
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |GROUP BY 1,2
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // --- r3: revenue by region (5-way star join, TPC-H Q5-style) ---------

  private def r3(s: SparkSession, dir: String): DataFrame = {
    val r  = Tables.region(s, dir)
    val n  = Tables.nation(s, dir)
    val c  = Tables.customer(s, dir)
    val o  = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= ntz("1996-01-01 00:00:00") &&
              col("o_orderdate") < ntz("1997-01-01 00:00:00"))
    val li = Tables.lineitem(s, dir)
    // broadcast only the genuinely bounded dims (nation=25, region=5),
    // and only while the stats ledger agrees they are still bounded;
    // customer scales with SF → leave its join strategy to AQE
    val base = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
    dimJoin(s, dir,
      dimJoin(s, dir, base, n, "nation", col("c_nationkey") === col("n_nationkey")),
      r, "region", col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("r_name"), col("n_name"))
  }

  private val r3Sql =
    s"""SELECT r_name, n_name,
       |       ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
       |  AND o_orderdate < TIMESTAMP '1997-01-01'
       |GROUP BY 1,2
       |ORDER BY revenue DESC, r_name, n_name""".stripMargin

  // --- r4: window functions — running totals per customer --------------

  private def r4(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      // exact decimal running sum: window association order never matters
      .withColumn("running_spend",
        sum(col("o_totalprice").cast(DecimalType(38, 2)))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast(DoubleType))
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .orderBy("o_custkey", "rn")
  }

  private val r4Sql =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |       CAST(row_number() OVER w AS INTEGER) AS rn,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) OVER (
      |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
      |       lag(o_totalprice, 1) OVER w AS prev_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, rn""".stripMargin

  // --- r5: EXISTS / left-semi join + conditional agg (TPC-H Q4-style) --

  private def r5(s: SparkSession, dir: String): DataFrame = {
    val o  = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
    o.join(li,
        o("o_orderkey") === li("l_orderkey") && li("l_shipdate") > o("o_orderdate"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  private val r5Sql =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- r6: as-of join (market-data canonical: trade ⋈ latest quote ≤ t).
  // Spark lacks a native as-of join; rather than a blow-up range join we
  // compose union + sort-window: one shuffle on the key, sort within
  // partition, carry the last quote forward — O(n log n) per key at any
  // scale. Oracle uses DuckDB's native ASOF JOIN.

  private def r6(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val trades = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"),
        col("event_id").as("trade_event"), col("value").as("trade_value"),
        lit(null).cast(LongType).as("q_event"), lit(null).cast(DoubleType).as("q_value"))
    val quotes = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
        lit(null).cast(LongType).as("trade_event"), lit(null).cast(DoubleType).as("trade_value"),
        col("event_id").as("q_event"), col("value").as("q_value"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("kind"), col("q_event"))
      .rowsBetween(Window.unboundedPreceding, 0)
    trades.unionByName(quotes)
      .withColumn("quote_event", last(col("q_event"), ignoreNulls = true).over(w))
      .withColumn("quote_value", last(col("q_value"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("trade_event"), col("user_id"), col("ts").as("trade_ts"),
        col("trade_value"), col("quote_event"), col("quote_value"))
      .orderBy("trade_event")
  }

  private val r6Sql =
    """SELECT t.event_id AS trade_event, t.user_id, t.ts AS trade_ts,
      |       t.value AS trade_value,
      |       q.event_id AS quote_event, q.value AS quote_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') t
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
      |  ON t.user_id = q.user_id AND q.ts <= t.ts
      |ORDER BY trade_event""".stripMargin

  // --- r7: ROLLUP multi-level aggregate --------------------------------

  private def r7(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total_price"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  private val r7Sql =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       |       ${dsumSql("l_extendedprice")} AS total_price
       |FROM lineitem
       |GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // --- r8: skew-safe two-phase (salted) aggregation --------------------
  // Grouping 60k+ rows into 3 statuses is the worst-case skew shape: a
  // plain groupBy sends each hot key to one reducer. Salt the key for a
  // partial aggregate, then combine the 16 partials per key — the heavy
  // shuffle carries 3×16 rows instead of all rows on 3 reducers.
  // (Semantics identical to the plain GROUP BY the oracle runs.)

  private def r8(s: SparkSession, dir: String): DataFrame = {
    val o  = Tables.orders(s, dir).select("o_orderkey", "o_orderstatus")
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice", "l_discount")
    val joined = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
    val partial = joined.groupBy("o_orderstatus", "salt")
      .agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(DecimalType(38, 6))).as("rev_part"),
        count(lit(1)).as("cnt_part"))
    partial.groupBy("o_orderstatus")
      .agg(
        round(sum(col("rev_part")), 2).cast(DoubleType).as("revenue"),
        sum(col("cnt_part")).as("n_lineitems"))
      .orderBy("o_orderstatus")
  }

  private val r8Sql =
    s"""SELECT o_orderstatus,
       |       ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue,
       |       COUNT(*) AS n_lineitems
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- r9: scalar "subquery" — orders above their customer's average.
  // Expressed as agg + broadcast re-join (what Catalyst rewrites a
  // correlated scalar subquery into anyway, but explicit and skew-free).

  private def r9(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val avgs = o.groupBy(col("o_custkey").as("ck"))
      .agg(dsum(col("o_totalprice")).as("spend"),
        count(lit(1)).cast(DoubleType).as("cnt_d"))
      .select(col("ck"), ratio(col("spend"), col("cnt_d")).as("cust_avg"))
    // avgs is one row per customer — cardinality scales with SF, so no
    // broadcast hint; AQE broadcasts while it's small, shuffles beyond
    o.join(avgs, col("o_custkey") === col("ck"))
      .filter(col("o_totalprice") > col("cust_avg"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("cust_avg"))
      .orderBy("o_orderkey")
  }

  private val r9Sql =
    s"""WITH avgs AS (
       |  SELECT o_custkey AS ck,
       |         ${ratioSql(dsumSql("o_totalprice"), "CAST(COUNT(*) AS DOUBLE)")} AS cust_avg
       |  FROM orders GROUP BY 1)
       |SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
       |FROM orders JOIN avgs ON o_custkey = ck
       |WHERE o_totalprice > cust_avg
       |ORDER BY o_orderkey""".stripMargin

  // --- r10: set operators (INTERSECT / EXCEPT) -------------------------

  private def yearCust(s: SparkSession, dir: String, y: Int): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderdate") >= ntz(s"$y-01-01 00:00:00") &&
              col("o_orderdate") < ntz(s"${y + 1}-01-01 00:00:00"))
      .select(col("o_custkey")).distinct()

  private def r10(s: SparkSession, dir: String): DataFrame = {
    val a = yearCust(s, dir, 1996)
    val b = yearCust(s, dir, 1997)
    a.intersect(b).withColumn("tag", lit("both"))
      .unionByName(a.except(b).withColumn("tag", lit("only_1996")))
      .select(col("tag"), col("o_custkey"))
      .orderBy("tag", "o_custkey")
  }

  private val r10Sql =
    """WITH a AS (SELECT DISTINCT o_custkey FROM orders
      |           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |             AND o_orderdate < TIMESTAMP '1997-01-01'),
      |b AS (SELECT DISTINCT o_custkey FROM orders
      |      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |        AND o_orderdate < TIMESTAMP '1998-01-01')
      |SELECT 'both' AS tag, o_custkey FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
      |UNION ALL
      |SELECT 'only_1996' AS tag, o_custkey FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
      |ORDER BY tag, o_custkey""".stripMargin

  // --- r11: CUBE grouping sets -----------------------------------------

  private def r11(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  private val r11Sql =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       |       ${dsumSql("l_quantity")} AS qty
       |FROM lineitem
       |GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // --- r12: pivot (wide conditional aggregation) -----------------------

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  private def r12(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(s, dir)
      .select(hour(col("ts")).as("hour_utc"), col("event_type"))
    base.groupBy("hour_utc")
      .agg(
        count(lit(1)).as("total"),
        eventTypes.map(t =>
          sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"${t}_n")): _*)
      .orderBy("hour_utc")
  }

  private val r12Sql =
    s"""SELECT CAST(hour(ts) AS INTEGER) AS hour_utc, COUNT(*) AS total,
       |       ${eventTypes.map(t =>
             s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS ${t}_n")
             .mkString(",\n       ")}
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // --- r13: NOT EXISTS / left-anti join --------------------------------
  // Customers inactive in 1997-H1: the date filter pushes into the
  // orders scan before the anti-join.

  private def r13(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= ntz("1997-01-01 00:00:00") &&
              col("o_orderdate") < ntz("1997-07-01 00:00:00"))
      .select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  private val r13Sql =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      |                    AND o.o_orderdate < TIMESTAMP '1997-07-01')
      |ORDER BY c_custkey""".stripMargin

  // --- r14: time-range join (quotes within 60 min before each trade) ----
  // Equi-key (user) + time-range condition: Spark plans the equi part
  // as the join key and evaluates the range as a join condition — no
  // cross product. The streaming twin (stream-stream join with
  // watermarks) lives in StreamingJobs and is spec-checked against
  // this exact batch semantics.

  private def r14(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val t = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("trade_event"), col("user_id"), col("ts").as("t_ts"))
    val q = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("q_user"), col("ts").as("q_ts"), col("value").as("q_value"))
    t.join(q,
        col("user_id") === col("q_user") &&
        col("q_ts") >= col("t_ts") - expr("INTERVAL 60 MINUTES") &&
        col("q_ts") <= col("t_ts"))
      .groupBy("trade_event", "user_id")
      .agg(count(lit(1)).as("n_quotes"), dsum(col("q_value")).as("quote_value_sum"))
      .orderBy("trade_event")
  }

  private val r14Sql =
    s"""SELECT t.event_id AS trade_event, t.user_id,
       |       COUNT(*) AS n_quotes,
       |       ${dsumSql("q.value")} AS quote_value_sum
       |FROM (SELECT * FROM events WHERE event_type = 'purchase') t
       |JOIN (SELECT * FROM events WHERE event_type = 'view') q
       |  ON t.user_id = q.user_id
       | AND q.ts >= t.ts - INTERVAL 60 MINUTE
       | AND q.ts <= t.ts
       |GROUP BY 1,2 ORDER BY trade_event""".stripMargin

  // --- r15: explicit GROUPING SETS + grouping() markers ----------------

  private def r15(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  private val r15Sql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag))
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // --- r16: nation-pair trade flow (TPC-H Q7 shape) --------------------
  // Two independent joins against the same bounded dim (nation) under
  // different roles — only the dims are broadcast; customer/supplier
  // scale with SF and stay AQE-planned.

  private def r16(s: SparkSession, dir: String): DataFrame = {
    val li  = Tables.lineitem(s, dir)
    val o   = Tables.orders(s, dir)
    val c   = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val n1 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val base = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
    dimJoin(s, dir,
      dimJoin(s, dir, base, n1, "nation", col("s_nationkey") === col("s_nk")),
      n2, "nation", col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("ship_year"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("volume"),
        count(lit(1)).as("n_items"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }

  private val r16Sql =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |       CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       |       ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS volume,
       |       COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE n1.n_name <> n2.n_name
       |GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin

  // --- r17: market share (TPC-H Q8 shape) ------------------------------
  // One nation's share of a region's PROMO-part market per order year:
  // conditional numerator over the same exact-decimal denominator.

  private def r17(s: SparkSession, dir: String): DataFrame = {
    val li  = Tables.lineitem(s, dir)
    val o   = Tables.orders(s, dir)
    val c   = Tables.customer(s, dir)
    val sup = Tables.supplier(s, dir)
    val p   = Tables.part(s, dir).filter(col("p_type") === "PROMO")
    val n1 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
    val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    // part scales with SF → no broadcast hint (AQE decides); only the
    // fixed-size nation/region dims are hinted, via the stats ledger
    val base = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
    val withCustDims = dimJoin(s, dir,
      dimJoin(s, dir, base, n2, "nation", col("c_nationkey") === col("c_nk")),
      r, "region_asia", col("c_rk") === col("r_regionkey"))
    dimJoin(s, dir,
      withCustDims.join(sup, col("l_suppkey") === col("s_suppkey")),
      n1, "nation", col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        dsum(vol, 6).as("volume"),
        dsum(when(col("supp_nation") === "NATION_5", vol).otherwise(lit(0.0)), 6).as("nation_volume"))
      .withColumn("mkt_share", ratio(col("nation_volume"), col("volume")))
      .orderBy("o_year")
  }

  private val r17Sql =
    s"""SELECT o_year, volume, nation_volume,
       |       ${ratioSql("nation_volume", "volume")} AS mkt_share
       |FROM (
       |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       |         ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS volume,
       |         ${dsumSql(
                 "CASE WHEN n1.n_name = 'NATION_5' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", 6)} AS nation_volume
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |  JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  GROUP BY 1)
       |ORDER BY o_year""".stripMargin

  // --- r18: problem suppliers (TPC-H Q21 shape) ------------------------
  // Nested EXISTS + NOT EXISTS: suppliers who shipped late (> 60 days
  // after the order date) in multi-supplier orders where nobody else
  // was late — a left-semi feeding a left-anti on the same key, both
  // planned as single-shuffle joins.

  private def r18(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select("o_orderkey", "o_orderdate")
    val l = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(o, col("l_orderkey") === col("o_orderkey"))
    val lateLines = l.filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
    val others = l.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
    val lateOthers = lateLines.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
    lateLines
      .join(others, col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"), "left_semi")
      .join(lateOthers, col("l_orderkey") === col("o3") && col("l_suppkey") =!= col("s3"), "left_anti")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  private val r18Sql =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM lineitem l1
      |JOIN orders ON l1.l_orderkey = o_orderkey
      |JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  // --- r19: TPC-H Q20 shape — nested semi chain ------------------------
  // Suppliers who shipped heavy volume of a part class in a year:
  // part-filter semi-join into a (supp, part) HAVING aggregate, then a
  // semi-join into supplier⋈nation. Both semi targets stay key-only
  // (never widen the fact rows); the part list broadcasts, the heavy
  // list is key-distinct so AQE picks its join side by runtime size.

  private def r19(s: SparkSession, dir: String): DataFrame = {
    val smallParts = Tables.part(s, dir)
      .filter(col("p_name").like("small%")).select("p_partkey")
    val heavy = dimJoin(s, dir,
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= ntz("1995-01-01 00:00:00") &&
          col("l_shipdate") < ntz("1996-01-01 00:00:00")),
      smallParts, "part_small",
      col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum(col("l_quantity").cast(DecimalType(38, 4))).as("sq"))
      .filter(col("sq") > 50)
      .select("l_suppkey").distinct()
    dimJoin(s, dir, Tables.supplier(s, dir),
      Tables.nation(s, dir), "nation", col("s_nationkey") === col("n_nationkey"))
      .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_name", "n_name")
      .orderBy("s_name")
  }

  private val r19Sql =
    """WITH heavy AS (
      |  SELECT l_suppkey FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      |    AND l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
      |  GROUP BY l_suppkey, l_partkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(38,4))) > 50)
      |SELECT s_name, n_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
      |ORDER BY s_name""".stripMargin

  // --- r20: TPC-H Q13 shape — outer-join count distribution ------------
  // Orders-per-customer histogram including zero-order customers: the
  // LEFT OUTER join keeps every customer, count(o_orderkey) skips the
  // null-extended rows, and the second aggregate is over at most
  // max-orders-per-customer distinct keys (tiny).

  private def r20(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count").cast(IntegerType).as("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  private val r20Sql =
    """WITH c_orders AS (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey)
      |SELECT CAST(c_count AS INTEGER) AS c_count, count(*) AS custdist
      |FROM c_orders GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // --- r21: TPC-H Q18 shape — large-volume orders ----------------------
  // Group-HAVING semi-join back into the 3-way join, global top-100 by
  // order value. The `big` key list is re-aggregated fact output — no
  // broadcast hint (it scales with data; AQE decides), and the final
  // LIMIT bounds the result at any corpus size.

  private def r21(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val big = li.groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast(DecimalType(38, 4))).as("sq"))
      .filter(col("sq") > 210)
      .select("l_orderkey")
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
      .join(li.select("l_orderkey", "l_quantity"), col("o_orderkey") === col("l_orderkey"))
      .join(big.withColumnRenamed("l_orderkey", "big_key"),
        col("o_orderkey") === col("big_key"), "left_semi")
      .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  private val r21Sql =
    s"""WITH big AS (
      |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(38,4))) > 210)
      |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |       ${dsumSql("l_quantity")} AS total_qty
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (SELECT l_orderkey FROM big)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  // --- r22: TPC-H Q22 shape — scalar cutoff + anti join ----------------
  // Rich-but-unprioritized customers: account balance above the
  // (exact-decimal) positive-balance average, with no URGENT orders.
  // The scalar aggregate is one row (broadcast by construction); the
  // anti-join side is priority-pruned before the join.

  private def r22(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val cutoff = c.filter(col("c_acctbal") > 0.0)
      .agg((dsum(col("c_acctbal")) / count(lit(1))).as("a"))
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    c.crossJoin(broadcast(cutoff))
      .filter(col("c_acctbal") > col("a"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  private val r22Sql =
    s"""WITH cutoff AS (
      |  SELECT ${dsumSql("c_acctbal")} / count(*) AS a
      |  FROM customer WHERE c_acctbal > 0.0)
      |SELECT c_custkey, c_name, c_acctbal
      |FROM customer, cutoff
      |WHERE c_acctbal > cutoff.a
      |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |                  AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  // --- r23: TPC-H Q17 shape — correlated per-group average filter ------
  // Small-quantity revenue for small parts: each lineitem compares
  // against ITS part's average quantity. The correlated scalar
  // subquery decorrelates into a per-part aggregate re-joined on the
  // key — both sides shuffle on l_partkey (AQE picks the strategy; a
  // broadcast hint here would scale with the part table and OOM at
  // 100 TB). The exact-decimal average keeps the sub-average filter
  // boundary bit-identical to the oracle.

  private def r23(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val pavg = li.groupBy("l_partkey")
      .agg((dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    li.join(Tables.part(s, dir).filter(col("p_size") <= 5),
        col("p_partkey") === col("l_partkey"))
      .join(pavg, "l_partkey")
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .groupBy("p_brand")
      .agg(round6(dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_small"))
      .orderBy("p_brand")
  }

  private val r23Sql =
    s"""WITH pavg AS (
      |  SELECT l_partkey, ${dsumSql("l_quantity")} / count(*) AS avg_qty
      |  FROM lineitem GROUP BY 1)
      |SELECT p_brand,
      |       ${round6Sql(dsumSql("l_extendedprice") + " / 7.0")} AS avg_yearly,
      |       count(*) AS n_small
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN pavg ON pavg.l_partkey = lineitem.l_partkey
      |WHERE l_quantity < 0.2 * avg_qty AND p_size <= 5
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // --- r24: TPC-H Q19 shape — disjunctive band predicates --------------
  // OR-of-ANDs over joined columns: Catalyst extracts the common
  // residual (p_size lower bound, quantity envelope) and pushes what it
  // can into both scans while the full disjunction evaluates post-join
  // — the predicate shape rule-based pushdown gets wrong if you write
  // it imperatively.

  private def r24(s: SparkSession, dir: String): DataFrame = {
    def band(brand: String, sizeHi: Int, qLo: Int, qHi: Int) =
      col("p_brand") === brand && col("p_size").between(1, sizeHi) &&
        col("l_quantity").between(qLo, qHi)
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir), col("p_partkey") === col("l_partkey"))
      .filter(band("Brand#1", 5, 1, 11) || band("Brand#2", 10, 10, 20) ||
        band("Brand#3", 15, 20, 30))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
        count(lit(1)).as("n"))
  }

  private val r24Sql =
    s"""SELECT ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS revenue,
      |       count(*) AS n
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  // --- r25: TPC-H Q12 shape — conditional priority counts --------------

  private def r25(s: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") >= col("o_orderdate"))
      .groupBy("l_returnflag")
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  private val r25Sql =
    """SELECT l_returnflag,
      |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= o_orderdate
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --- r26: TPC-H Q6 shape — scan-only forecast revenue ----------------
  // The pure pushdown exhibit: no join at all, three conjunctive range
  // predicates reach the parquet scan as PushedFilters, and the single
  // aggregate is map-side partial + one-row final. At 100 TB this is
  // I/O-bound by exactly the rows the filters keep — the plan to beat.

  private def r26(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= ntz("1996-01-01 00:00:00") &&
        col("l_shipdate") < ntz("1997-01-01 00:00:00") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount"), 6).as("revenue"),
        count(lit(1)).as("n"))

  private val r26Sql =
    s"""SELECT ${dsumSql("l_extendedprice * l_discount", 6)} AS revenue,
       |       count(*) AS n
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
       |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  // --- r27: TPC-H Q10 shape — returned-item reporting ------------------
  // Top customers by lost revenue from returned lineitems in a quarter:
  // date-pruned orders ⋈ returnflag-pruned lineitem, customer join left
  // to AQE (cardinality scales with SF), nation broadcast (bounded 25).

  private def r27(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= ntz("1996-01-01 00:00:00") &&
        col("o_orderdate") < ntz("1996-04-01 00:00:00"))
    dimJoin(s, dir,
      Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey")),
      Tables.nation(s, dir), "nation", col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  private val r27Sql =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
       |       ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
       |GROUP BY 1,2,3,4
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // --- r28: TPC-H Q14 shape — promotion revenue share ------------------
  // Conditional numerator over the same exact-decimal denominator in
  // one pass (no second scan, no self-join); the part join shuffles on
  // the key with AQE picking the strategy. Both sums surface alongside
  // the share so the result discriminates at every SF.

  private def r28(s: SparkSession, dir: String): DataFrame = {
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= ntz("1996-01-01 00:00:00") &&
        col("l_shipdate") < ntz("1996-04-01 00:00:00"))
      .join(Tables.part(s, dir), col("p_partkey") === col("l_partkey"))
      .agg(
        dsum(when(col("p_type") === "PROMO", disc).otherwise(lit(0.0)), 6).as("promo_revenue"),
        dsum(disc, 6).as("total_revenue"))
      .withColumn("promo_share_pct",
        round6(lit(100.0) * col("promo_revenue") / col("total_revenue")))
  }

  private val r28Sql =
    s"""SELECT promo_revenue, total_revenue,
       |       ${round6Sql("100.0 * promo_revenue / total_revenue")} AS promo_share_pct
       |FROM (
       |  SELECT ${dsumSql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", 6)} AS promo_revenue,
       |         ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS total_revenue
       |  FROM lineitem JOIN part ON p_partkey = l_partkey
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01')""".stripMargin

  // --- r29: TPC-H Q15 shape — top supplier(s) by revenue ---------------
  // The revenue "view" aggregates once; the scalar max over it is one
  // row (broadcast by construction) and the equality filter returns
  // every supplier tied at the maximum. Exact-decimal revenue makes the
  // tie boundary bit-identical to the oracle.

  private def r29(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= ntz("1996-01-01 00:00:00") &&
        col("l_shipdate") < ntz("1996-04-01 00:00:00"))
      .groupBy("l_suppkey")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("total_rev"))
    val top = rev.agg(max(col("total_rev")).as("max_rev"))
    Tables.supplier(s, dir)
      .join(rev, col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(top))
      .filter(col("total_rev") === col("max_rev"))
      .select("s_suppkey", "s_name", "total_rev")
      .orderBy("s_suppkey")
  }

  private val r29Sql =
    s"""WITH rev AS (
       |  SELECT l_suppkey,
       |         ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS total_rev
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
       |  GROUP BY 1)
       |SELECT s_suppkey, s_name, total_rev
       |FROM supplier JOIN rev ON s_suppkey = l_suppkey
       |WHERE total_rev = (SELECT max(total_rev) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  // --- r30: TPC-H Q9 shape — product-line profit by nation/year --------
  // The reference schema carries no partsupp, so unit cost is derived
  // from the part's retail price (fixed 50% margin) — the join/agg
  // shape is Q9's: name-filtered part ⋈ fact ⋈ orders (year) ⋈
  // supplier ⋈ nation (broadcast), profit summed exactly per
  // (nation, year). Part scales with SF → its join strategy is AQE's.

  private def r30(s: SparkSession, dir: String): DataFrame = {
    val profit = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      lit(0.5) * col("p_retailprice") * col("l_quantity")
    dimJoin(s, dir,
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_name").like("red%")),
          col("p_partkey") === col("l_partkey"))
        .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey")),
      Tables.nation(s, dir), "nation", col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(dsum(profit, 6).as("sum_profit"), count(lit(1)).as("n_lines"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  private val r30Sql =
    s"""SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       |       ${dsumSql("l_extendedprice * (1.0 - l_discount) - 0.5 * p_retailprice * l_quantity", 6)} AS sum_profit,
       |       count(*) AS n_lines
       |FROM lineitem
       |JOIN part ON p_partkey = l_partkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |WHERE p_name LIKE 'red%'
       |GROUP BY 1,2
       |ORDER BY n_name, o_year DESC""".stripMargin

  // --- r31: bloom-style runtime-filter join ---------------------------
  // The runtime-filter pattern made explicit at the DataFrame level:
  // the selective build side (urgent 1996 orders) is compressed into
  // its set of 8192 hash buckets — a bounded, bloom-filter-sized
  // membership structure regardless of corpus size — broadcast, and
  // applied to the fact scan as a left-semi prefilter BEFORE the real
  // join. False positives (~5% fill here) only cost prefilter
  // selectivity; the exact equi-join still decides membership, so the
  // result is identical to the plain join (which is the oracle). At
  // 100 TB this is what cuts the fact-side shuffle to ~the matching
  // rows: the broadcast is ≤8192 ints no matter how big orders grows
  // (fill fraction — and with it prefilter power — degrades
  // gracefully, never correctness or memory).

  /** Bucket sizing: ~16 buckets per distinct build-side key (≈6% fill
    * → ≈6% false-positive pass rate), rounded up to a power of two,
    * floored at the historical 8192. At sf0.1 (~410 urgent-1996
    * orders) this derives the former pinned 8192; at the ×16 probe it
    * derives 131072 — the `@bucketsPropN` remedy row's value, now the
    * default. The result is bucket-count-independent (the exact join
    * decides membership), so the oracle needs no derivation. */
  private[graft] def bloomBucketsFor(buildKeys: Long): Int = {
    val want = 16L * math.max(1L, buildKeys)
    math.max(8192, java.lang.Long.highestOneBit(math.max(1L, want - 1)) << 1)
      .min(1 << 26).toInt
  }

  /** r31 at an explicit bucket count. The bucket count is the filter's
    * build-side parameter — the ×16 probe fills a FIXED filter 5%→57%
    * and its prefilter power degrades (gracefully, never correctness),
    * while buckets ∝ build side keep the selectivity flat at a
    * broadcast cost that stays trivially small (≤ n_buckets ints). The
    * registry entry derives the count from the build-side key count at
    * plan-build time (the one-row count is the ANALYZE step every
    * runtime filter pays). */
  private def urgentOrders1996(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= ntz("1996-01-01 00:00:00") &&
        col("o_orderdate") < ntz("1997-01-01 00:00:00"))
      .select("o_orderkey", "o_orderdate")

  def bloomPruneAt(s: SparkSession, dir: String, nBuckets: Int): DataFrame = {
    val o = urgentOrders1996(s, dir)
    val buckets = o.select(
      pmod(h32(col("o_orderkey").cast(StringType)), lit(nBuckets)).as("bkt")).distinct()
    // exact-join side chosen from the SAME ledger statistic that sizes
    // the bloom filter: one ANALYZE of the build side drives both the
    // filter capacity and the join strategy. While urgent-1996 orders
    // fit a broadcast the whole query is shuffle-free on the fact side;
    // once the ledger says the build side grew past the limit, the
    // exact join degrades to a shuffle join (the prefilter still cuts
    // the shuffled fact rows to ~the matching set).
    val prefiltered = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .withColumn("bkt", pmod(h32(col("l_orderkey").cast(StringType)), lit(nBuckets)))
      .join(broadcast(buckets), Seq("bkt"), "left_semi")
    graft.plans.CostModel.statsJoin(s, prefiltered, o,
      s"$dir#orders_urgent_1996",
      col("l_orderkey") === col("o_orderkey"))(o.count())
      .groupBy(month(col("o_orderdate")).as("m"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy("m")
  }

  /** Build-side key count via the shared ANALYZE ledger — one Spark
    * job per (application, lake), not one per plan build (the count is
    * bucket-count-independent, so snapshot staleness can never affect
    * correctness, only prefilter selectivity). */
  private def urgentOrderCount(s: SparkSession, dir: String): Long =
    graft.etl.TableStats.rowCount(s, s"$dir#orders_urgent_1996")(
      urgentOrders1996(s, dir).count())

  private def r31(s: SparkSession, dir: String): DataFrame =
    bloomPruneAt(s, dir, bloomBucketsFor(urgentOrderCount(s, dir)))

  private val r31Sql =
    s"""SELECT CAST(month(o_orderdate) AS INTEGER) AS m,
       |       ${dsumSql("l_extendedprice * (1.0 - l_discount)", 6)} AS revenue,
       |       count(*) AS n
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
       |GROUP BY 1 ORDER BY m""".stripMargin

  // --- r32: catalog statistics collection (ANALYZE TABLE) --------------
  // The statistics a cost-based optimizer feeds on — per-column NDV,
  // null counts, min/max, row count — as a UNION of per-column stat
  // jobs, one column-pruned scan each. This deliberately replaces the
  // rounds-4-8 "one pass, all distincts in one agg" formulation: with
  // N>1 exact distincts Spark must plan through Expand (every row
  // multiplied N+1 times through the first hash aggregate) and funnel
  // the full Σ-NDV (gid, value) stream into a SINGLE-partition final
  // aggregate — measured 9.3 s at sf0.1, the registry's slowest row,
  // and the single reducer only worsens with scale. Per-column
  // branches read each stat column exactly once (columnar pruning
  // makes the 'N scans read the lake N times' objection wrong — the
  // bytes touched are the SAME stat columns either way, minus every
  // non-stat column the full-row pass also decoded), each single
  // distinct plans Expand-free two-level dedup with map-side partial
  // aggregation, and no stage ever sees more than one column's NDV.

  private val StatNumCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val StatStrCols = Seq("l_returnflag", "l_linestatus")

  private def r32(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def branch(c: String, isNum: Boolean): DataFrame = {
      val mins =
        if (isNum) Seq(min(col(c)).cast(DoubleType).as("min_num"),
          max(col(c)).cast(DoubleType).as("max_num"),
          lit(null).cast(StringType).as("min_str"),
          lit(null).cast(StringType).as("max_str"))
        else Seq(lit(null).cast(DoubleType).as("min_num"),
          lit(null).cast(DoubleType).as("max_num"),
          min(col(c)).as("min_str"), max(col(c)).as("max_str"))
      li.select(col(c)).agg(
        count(lit(1)).as("n_rows"),
        (countDistinct(col(c)).as("ndv") +:
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls") +: mins): _*)
        .select(lit(c).as("col_name"), col("n_rows"), col("ndv"),
          col("n_nulls"), col("min_num"), col("max_num"),
          col("min_str"), col("max_str"))
    }
    (StatNumCols.map(branch(_, isNum = true)) ++
      StatStrCols.map(branch(_, isNum = false)))
      .reduce(_.unionByName(_))
      .orderBy("col_name")
  }

  private val r32Sql: String = {
    val aggs = Seq("count(*) AS n_rows") ++
      (StatNumCols ++ StatStrCols).flatMap(c => Seq(
        s"count(DISTINCT $c) AS ndv_$c",
        s"CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_$c")) ++
      StatNumCols.flatMap(c => Seq(
        s"CAST(min($c) AS DOUBLE) AS min_$c", s"CAST(max($c) AS DOUBLE) AS max_$c")) ++
      StatStrCols.flatMap(c => Seq(s"min($c) AS min_$c", s"max($c) AS max_$c"))
    val selNum = StatNumCols.map(c =>
      s"""SELECT '$c' AS col_name, n_rows, CAST(ndv_$c AS BIGINT) AS ndv,
         |  nulls_$c AS n_nulls, min_$c AS min_num, max_$c AS max_num,
         |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM a""".stripMargin)
    val selStr = StatStrCols.map(c =>
      s"""SELECT '$c' AS col_name, n_rows, CAST(ndv_$c AS BIGINT) AS ndv,
         |  nulls_$c AS n_nulls, CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
         |  min_$c AS min_str, max_$c AS max_str FROM a""".stripMargin)
    s"""WITH a AS (SELECT ${aggs.mkString(",\n  ")} FROM lineitem)
       |${(selNum ++ selStr).mkString("\nUNION ALL\n")}
       |ORDER BY col_name""".stripMargin
  }

  // --- etl_constraint_check: data-contract validation ------------------
  // The constraint sweep a lake runs after every load: NOT NULL,
  // primary-key uniqueness, referential integrity, and value-range
  // checks, each reported as (constraint, violation_count). The two
  // orders-level checks share ONE scan (explode of a single aggregate
  // row); the FK check is a left-anti join (never a row-by-row
  // lookup); the PK check is a keyed aggregate. All shapes stay
  // shuffle-bounded by key cardinality at 100 TB.

  private def etlConstraints(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val oAgg = o.agg(
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v_null"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v_neg"))
      .select(explode(array(
        struct(lit("orders_custkey_not_null").as("constraint_name"),
          col("v_null").as("violations")),
        struct(lit("orders_totalprice_positive").as("constraint_name"),
          col("v_neg").as("violations")))).as("s"))
      .select("s.*")
    val orphans = o.join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("orders_customer_fk").as("constraint_name"), col("violations"))
    val dupPk = Tables.lineitem(s, dir)
      .groupBy("l_orderkey", "l_linenumber").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .agg(coalesce(sum(col("n") - 1), lit(0L)).as("violations"))
      .select(lit("lineitem_pk_unique").as("constraint_name"), col("violations"))
    oAgg.unionByName(orphans).unionByName(dupPk).orderBy("constraint_name")
  }

  private val etlConstraintsSql =
    """SELECT 'orders_custkey_not_null' AS constraint_name,
      |       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
      |FROM orders
      |UNION ALL
      |SELECT 'orders_totalprice_positive', CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
      |FROM orders
      |UNION ALL
      |SELECT 'orders_customer_fk', CAST(count(*) AS BIGINT)
      |FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |UNION ALL
      |SELECT 'lineitem_pk_unique', CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
      |FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber) d
      |WHERE n > 1
      |ORDER BY constraint_name""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("r1_pricing_summary", r1, Some(r1Sql)),
    Op("r2_top_customers", r2, Some(r2Sql)),
    Op("r3_revenue_by_region", r3, Some(r3Sql)),
    Op("r4_window_running", r4, Some(r4Sql)),
    Op("r5_order_priority", r5, Some(r5Sql)),
    Op("r6_asof_join", r6, Some(r6Sql)),
    Op("r7_rollup", r7, Some(r7Sql)),
    Op("r8_skew_salted_join", r8, Some(r8Sql)),
    Op("r9_scalar_subquery", r9, Some(r9Sql)),
    Op("r10_set_ops", r10, Some(r10Sql)),
    Op("r11_cube", r11, Some(r11Sql)),
    Op("r12_pivot", r12, Some(r12Sql)),
    Op("r13_anti_join", r13, Some(r13Sql)),
    Op("r14_range_join", r14, Some(r14Sql)),
    Op("r15_grouping_sets", r15, Some(r15Sql)),
    Op("r16_nation_flow", r16, Some(r16Sql)),
    Op("r17_market_share", r17, Some(r17Sql)),
    Op("r18_problem_suppliers", r18, Some(r18Sql)),
    Op("r19_heavy_suppliers", r19, Some(r19Sql)),
    Op("r20_custdist", r20, Some(r20Sql)),
    Op("r21_big_orders", r21, Some(r21Sql)),
    Op("r22_idle_rich", r22, Some(r22Sql)),
    Op("r23_small_qty_revenue", r23, Some(r23Sql)),
    Op("r24_disjunctive_bands", r24, Some(r24Sql)),
    Op("r25_priority_lines", r25, Some(r25Sql)),
    Op("r26_forecast_revenue", r26, Some(r26Sql)),
    Op("r27_returned_items", r27, Some(r27Sql)),
    Op("r28_promo_share", r28, Some(r28Sql)),
    Op("r29_top_supplier", r29, Some(r29Sql)),
    Op("r30_nation_profit", r30, Some(r30Sql)),
    Op("r31_bloom_prune", r31, Some(r31Sql)),
    Op("r32_catalog_stats", r32, Some(r32Sql)),
    Op("etl_constraint_check", etlConstraints, Some(etlConstraintsSql)))
}
