package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Relational operator catalog over the TPC-H-ish corpus.
  *
  * Generalizes the reference's operator families (scan/filter/project
  * `bigbugdata.py:250–266`, joins `:176–205`, aggregation `:286–302`,
  * windows `:176–183, 322–331`, sorts `:304–310`) to the full relational
  * surface a user of the reference would expect from a query engine.
  *
  * Exactness strategy (see QueryDef doc): money arithmetic in DECIMAL,
  * cast to DOUBLE at the end; derived double math mirrors the oracle's
  * operation tree exactly.
  */
object Relational {
  import Tables.{d2, t}

  private def d4(c: Column): Column = c.cast(DecimalType(4, 2))
  // decimal(3,2) literal 1.00 — keeps decimal widths small on both engines
  private val one = lit(new java.math.BigDecimal("1.00"))

  /** revenue term: extendedprice * (1 - discount), exact decimal */
  private def discPrice(df: DataFrame): Column =
    d2(df("l_extendedprice")) * (one - d4(df("l_discount")))

  val queries: Seq[QueryDef] = Seq(

    QueryDef(
      "q1_pricing_summary",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(d2(col("l_quantity"))).cast("double").as("sum_qty"),
            sum(d2(col("l_extendedprice"))).cast("double").as("sum_base"),
            sum(discPrice(li)).cast("double").as("sum_disc_price"),
            sum(discPrice(li) * (one + d4(col("l_tax")))).cast("double").as("sum_charge"),
            (sum(d2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_base,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1.00 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS sum_charge,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_qty,
        COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      "TPC-H Q1 shape: multi-aggregate groupBy (A2/A6 analog)"),

    QueryDef(
      "q2_filter_pushdown",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01 00:00:00"))
            && col("l_shipdate") < to_timestamp(lit("1996-01-01 00:00:00"))
            && col("l_quantity") < 25)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_shipdate")
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_shipdate
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00' AND l_quantity < 25
        ORDER BY l_orderkey, l_linenumber"""),
      "predicate + projection pushdown to parquet scan (P1/P3)"),

    QueryDef(
      "q3_broadcast_join",
      (s, dir) => {
        val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(sum(d2(col("o_totalprice"))).cast("double").as("revenue"),
            count(lit(1)).as("n_orders"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS revenue,
        COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      "broadcast hash join, fact x small dim (J5 analog)"),

    QueryDef(
      "q4_shuffle_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .filter(col("o_orderdate") >= to_timestamp(lit("1995-01-01 00:00:00"))
            && col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
          .groupBy(col("o_orderpriority"))
          .agg(sum(discPrice(li)).cast("double").as("revenue"), count(lit(1)).as("n"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
        COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      "large-large equi join (shuffle/sort-merge) + post-join filter"),

    QueryDef(
      "q5_multijoin",
      (s, dir) => {
        val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
        val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
        val n = t(s, dir, "nation"); val r = t(s, dir, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(su, li("l_suppkey") === su("s_suppkey")
            && c("c_nationkey") === su("s_nationkey"))
          .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(discPrice(li)).cast("double").as("revenue"), count(lit(1)).as("n"))
          .orderBy("r_name", "n_name")
      },
      Some("""SELECT r_name, n_name,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS VARCHAR) AS DOUBLE) AS revenue,
        COUNT(*) AS n
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
      "TPC-H Q5 shape: 6-table join tree, broadcast dims"),

    QueryDef(
      "q6_semi_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_semi")
          .select("c_custkey", "c_name", "c_mktsegment")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        ORDER BY c_custkey"""),
      "left-semi join = EXISTS (J4: taxID semi-filter analog)"),

    QueryDef(
      "q7_anti_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val big = t(s, dir, "orders").filter(col("o_totalprice") > 250000)
        c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        ORDER BY c_custkey"""),
      "left-anti join = NOT EXISTS"),

    QueryDef(
      "q8_window_topk",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        o.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
          .orderBy("o_custkey", "rk")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
            ROW_NUMBER() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) AS rk
          FROM orders) WHERE rk <= 3
        ORDER BY o_custkey, rk"""),
      "per-group top-K via row_number (W1: tophits ranking analog)"),

    QueryDef(
      "q9_window_running",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        // l_extendedprice tiebreak: the corpus contains duplicate
        // (l_orderkey, l_linenumber) rows, so the "natural" key is not
        // unique and running sums would be tie-order-dependent
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        li.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            sum(d2(col("l_extendedprice"))).over(w).cast("double").as("running_rev"))
          .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
        CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) OVER (
          PARTITION BY l_suppkey
          ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_rev
        FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber"""),
      "running aggregate with explicit rows frame (decimal-exact prefix sums)"),

    QueryDef(
      "q10_lag_rank",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        o.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            lag(col("o_totalprice"), 1).over(w).as("prev_price"),
            lead(col("o_totalprice"), 1).over(w).as("next_price"),
            dense_rank().over(Window.partitionBy(col("o_custkey"))
              .orderBy(col("o_totalprice").desc, col("o_orderkey")))
              .cast("long").as("price_rank"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
        LAG(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        LEAD(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
        DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
        FROM orders ORDER BY o_custkey, o_orderkey"""),
      "lag/lead/dense_rank window functions"),

    QueryDef(
      "q11_set_ops",
      (s, dir) => {
        val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
        val auto = c.filter(col("c_mktsegment") === "AUTOMOBILE")
          .select(col("c_custkey").as("ck"))
        val big = o.filter(col("o_totalprice") > 250000)
          .select(col("o_custkey").as("ck"))
        val inter = auto.intersect(big).withColumn("op", lit("intersect"))
        val exc = auto.except(big).withColumn("op", lit("except"))
        inter.unionByName(exc).select("op", "ck").orderBy("op", "ck")
      },
      Some("""SELECT op, ck FROM (
          SELECT 'intersect' AS op, ck FROM (
            SELECT c_custkey AS ck FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
            INTERSECT
            SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 250000)
          UNION ALL
          SELECT 'except' AS op, ck FROM (
            SELECT c_custkey AS ck FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
            EXCEPT
            SELECT o_custkey AS ck FROM orders WHERE o_totalprice > 250000))
        ORDER BY op, ck"""),
      "INTERSECT / EXCEPT / UNION ALL set operations (§2.8)"),

    QueryDef(
      "q12_distinct_agg",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS n_parts,
        COUNT(DISTINCT l_suppkey) AS n_supps,
        COUNT(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
        COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      "distinct aggregates incl. multi-column distinct"),

    QueryDef(
      "q13_rollup",
      (s, dir) =>
        t(s, dir, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(d2(col("l_quantity"))).cast("double").as("sum_qty"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        COUNT(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
      "ROLLUP grouping sets (generalizes A2 pivot totals)"),

    QueryDef(
      "q14_scalar_funcs",
      (s, dir) =>
        t(s, dir, "part")
          .select(col("p_partkey"),
            upper(col("p_name")).as("uname"),
            substring(col("p_name"), 1, 8).as("prefix"),
            length(col("p_name")).as("name_len"),
            (col("p_size") % 5).as("size_mod"),
            (col("p_retailprice") * 2).as("double_price"),
            concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
        UPPER(p_name) AS uname,
        SUBSTRING(p_name, 1, 8) AS prefix,
        CAST(LENGTH(p_name) AS INT) AS name_len,
        CAST(p_size % 5 AS INT) AS size_mod,
        p_retailprice * 2 AS double_price,
        CONCAT_WS('|', p_brand, p_type) AS brand_type
        FROM part ORDER BY p_partkey"""),
      "string/arithmetic scalar functions (F4–F9 analog)"),

    QueryDef(
      "q15_date_funcs",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("yr"),
            month(col("o_orderdate")).as("mo"))
          .agg(count(lit(1)).as("n_orders"),
            sum(d2(col("o_totalprice"))).cast("double").as("revenue"))
          .orderBy("yr", "mo"),
      Some("""SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
        CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
        COUNT(*) AS n_orders,
        CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS revenue
        FROM orders GROUP BY 1, 2 ORDER BY yr, mo"""),
      "date part extraction + time-grouped aggregation (F10 analog)"),

    QueryDef(
      "q18_scalar_subquery",
      (s, dir) => {
        val s2 = s; import s2.implicits._
        val o = t(s, dir, "orders")
        val avgDf = o.agg(
          (sum(d2(col("o_totalprice"))).cast("double") / count(lit(1))).as("avg_price"))
        o.crossJoin(broadcast(avgDf))
          .filter(col("o_totalprice") > col("avg_price") * 1.5)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_totalprice > (
          SELECT CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) / COUNT(*)
          FROM orders) * 1.5
        ORDER BY o_orderkey"""),
      "scalar subquery vs broadcast cross-join of a 1-row aggregate"),

    QueryDef(
      "q20_having",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("n_items"),
            sum(d2(col("l_quantity"))).cast("double").as("total_qty"))
          .filter(col("n_items") > 20)
          .orderBy("l_suppkey"),
      Some("""SELECT l_suppkey, COUNT(*) AS n_items,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS total_qty
        FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) > 20
        ORDER BY l_suppkey"""),
      "post-aggregation filter (HAVING)")
  )
}
