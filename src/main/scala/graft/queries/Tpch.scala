package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** TPC-H-style relational queries adapted to the driver testdata schema
  * (FIXTURES.md §B — no partsupp, monetary columns are 2-decimal doubles,
  * dates are timestamps). Mirrors the reference's benchmark surface
  * (presto-benchto-benchmarks/src/main/resources/sql/presto/tpch/q01..q22.sql)
  * and its canonical micro-benchmarks (presto-benchmark/.../HandTpchQuery1.java,
  * HandTpchQuery6.java).
  *
  * Scale notes: every query is a declarative plan — Catalyst pushes the
  * filters into the parquet scan, prunes columns, splits aggregates into
  * partial/final, and AQE picks broadcast vs shuffle join at runtime. Dims
  * (region/nation/supplier/part/customer) stay far under the broadcast
  * threshold even at sf1000, so the lineitem/orders fact joins broadcast the
  * dim side and never shuffle the fact on dim keys.
  */
object Tpch {

  // Exact-decimal sum of a 2-dp monetary product: associative, so Spark's
  // nondeterministic partial-agg order and DuckDB's serial sum agree bitwise.
  // Rides the dsum8 fixed-point aggregate — bitwise-identical to
  // sum(c.cast(DecimalType(30, 8))).cast("double") (Dsum8Spec) at a third
  // of the per-row cost (no BigDecimal boxing in the agg buffer), which
  // graft.FixedPointSum gives the plain form too, minus this double output.
  private def dsum(c: org.apache.spark.sql.Column) =
    call_function("dsum8", c)

  val qs: Map[String, Q] = Map(

    // ---- Q1: pricing summary report (scan + filter + grouped agg) --------
    "tpch_q01_pricing_summary" -> Q.df(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS sum_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_base_price,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_disc_price,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,8))) AS DOUBLE), 2) AS sum_charge,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
        |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST""".stripMargin,
      headline = true) { (s, dir) =>
      // money sums rounded to TPC-H's conventional 2dp: above ~15
      // significant digits the decimal→double cast differs by 1 ulp
      // between engines (seen on sum_charge at sf0.1); 2dp on ~1e9 sums
      // keeps 11 significant digits, far above the ulp noise
      val li = Tables.t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          round(dsum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(dsum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
          round(dsum(col("l_extendedprice")) / count(lit(1)), 6).as("avg_price"),
          round(dsum(col("l_discount")) / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag").asc_nulls_last, col("l_linestatus").asc_nulls_last)
    },

    // ---- Q3: shipping priority (3-way join + agg + top-n) ----------------
    "tpch_q03_shipping_priority" -> Q.sqlSame(
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS revenue,
        |  o_orderdate
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC NULLS LAST, o_orderdate ASC NULLS LAST, l_orderkey ASC NULLS LAST
        |LIMIT 10""".stripMargin,
      headline = true),

    // ---- Q4: order priority w/ EXISTS (semi join) ------------------------
    "tpch_q04_order_priority" -> Q.sqlSame(
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC NULLS LAST""".stripMargin),

    // ---- Q5: local supplier volume (6-way join) --------------------------
    "tpch_q05_local_supplier_volume" -> Q.sqlSame(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC NULLS LAST, n_name ASC NULLS LAST""".stripMargin,
      headline = true),

    // ---- Q6: forecast revenue change (scan + tight filter + global agg) --
    "tpch_q06_forecast_revenue" -> Q.df(
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,8))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
      headline = true) { (s, dir) =>
      Tables.t(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))
    },

    // ---- Q7-ish: volume between nation pairs (join + multi-key group) ----
    "tpch_q07_nation_volume" -> Q.sqlSame(
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(SUM(CAST(volume AS DECIMAL(30,8))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
        |    l_extendedprice * (1 - l_discount) AS volume
        |  FROM supplier
        |  JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        |    AND n2.n_name IN ('NATION_1', 'NATION_2')
        |    AND n1.n_name <> n2.n_name
        |) shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation ASC NULLS LAST, cust_nation ASC NULLS LAST, l_year ASC NULLS LAST""".stripMargin),

    // ---- Q8-ish: national market share -----------------------------------
    "tpch_q08_market_share" -> Q.sqlSame(
      """SELECT o_year,
        |  ROUND(
        |    CAST(SUM(CAST(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END AS DECIMAL(30,8))) AS DOUBLE)
        |    / CAST(SUM(CAST(volume AS DECIMAL(30,8))) AS DOUBLE), 9) AS mkt_share
        |FROM (
        |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
        |    l_extendedprice * (1 - l_discount) AS volume,
        |    n2.n_name AS nation
        |  FROM part
        |  JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        |) all_nations
        |GROUP BY o_year
        |ORDER BY o_year ASC NULLS LAST""".stripMargin),

    // ---- Q9-ish: profit by nation and year -------------------------------
    "tpch_q09_product_profit" -> Q.sqlSame(
      """SELECT nation, o_year,
        |  CAST(SUM(CAST(amount AS DECIMAL(30,8))) AS DOUBLE) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation,
        |    CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
        |    l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity AS amount
        |  FROM part
        |  JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%blue%'
        |) profit
        |GROUP BY nation, o_year
        |ORDER BY nation ASC NULLS LAST, o_year DESC NULLS LAST""".stripMargin),

    // ---- Q10: returned-item reporting (join + group + top-n) -------------
    "tpch_q10_returned_items" -> Q.sqlSame(
      """SELECT c_custkey, c_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS revenue,
        |  c_acctbal, n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC NULLS LAST, c_custkey ASC NULLS LAST
        |LIMIT 20""".stripMargin,
      headline = true),

    // ---- Q12-ish: late shipments by order priority -----------------------
    // SUM(CASE...) cast to BIGINT: DuckDB SUM(INTEGER) yields HUGEINT,
    // which the driver comparator renders as float64 and hash-mismatches.
    "tpch_q12_late_shipments" -> Q.sqlSame(
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
        |  COUNT(*) AS total_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC NULLS LAST""".stripMargin),

    // ---- Q13: customer order-count distribution (outer join + nested agg)
    "tpch_q13_customer_distribution" -> Q.sqlSame(
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC NULLS LAST, c_count DESC NULLS LAST""".stripMargin),

    // ---- Q14-ish: promo revenue share (conditional agg over join) --------
    "tpch_q14_promo_revenue" -> Q.sqlSame(
      """SELECT
        |  CAST(SUM(CAST(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(30,8))) AS DOUBLE) * 100
        |  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin),

    // ---- Q15-ish: top supplier by revenue (CTE + scalar-subquery max) ----
    "tpch_q15_top_supplier" -> Q.sqlSame(
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey ASC NULLS LAST""".stripMargin),

    // ---- Q16-ish: part/supplier counts (distinct agg + NOT IN) -----------
    "tpch_q16_parts_supplier" -> Q.sqlSame(
      """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC NULLS LAST, p_brand ASC NULLS LAST,
        |  p_type ASC NULLS LAST, p_size ASC NULLS LAST""".stripMargin),

    // ---- Q17-ish: small-quantity revenue (correlated scalar subquery) ----
    "tpch_q17_small_quantity" -> Q.sqlSame(
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#3'
        |  AND l_quantity < (
        |    SELECT 0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*))
        |    FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin),

    // ---- Q18: large-volume customers (IN over grouped HAVING) ------------
    "tpch_q18_large_volume_customer" -> Q.sqlSame(
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS sum_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(30,8))) > 200)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC NULLS LAST, o_orderdate ASC NULLS LAST, o_orderkey ASC NULLS LAST
        |LIMIT 100""".stripMargin,
      headline = true),

    // ---- Q19-ish: discounted revenue, disjunctive pushdown ---------------
    "tpch_q19_discounted_revenue" -> Q.sqlSame(
      """SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // ---- Q21-ish: suppliers with multi-line orders (EXISTS + NOT EXISTS) -
    "tpch_q21_waiting_supplier" -> Q.sqlSame(
      """SELECT s_name, COUNT(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name
        |ORDER BY numwait DESC NULLS LAST, s_name ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- Q22-ish: wealthy inactive customers (scalar sub + anti join) ----
    "tpch_q22_global_sales_opportunity" -> Q.sqlSame(
      """SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*)
        |    FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey ASC NULLS LAST""".stripMargin),

    // ---- Q2/Q11/Q20: the three partsupp queries. The driver testdata has
    // no partsupp table, so both engines derive the SAME deterministic one
    // (TPC-H spec shape: 4 suppliers per part, spread by a co-prime
    // stride; availqty/supplycost are integer formulas of the keys), which
    // keeps every query fully hash-checkable against DuckDB. The SQL text
    // is dialect-shared.

    // ---- Q2-ish: min-cost supplier per part in region (correlated scalar
    //      subquery over a 4-way join — the decorrelation shape the suite
    //      lacked; benchto q02.sql) ----
    "tpch_q02_min_cost_supplier" -> Q.sqlSame(
      s"""WITH $partsuppCte
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost
        |FROM part, partsupp, supplier, nation, region
        |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
        |  AND p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND ps_supplycost = (
        |    SELECT MIN(ps2.ps_supplycost)
        |    FROM partsupp ps2, supplier s2, nation n2, region r2
        |    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC NULLS LAST, n_name ASC NULLS LAST,
        |  s_name ASC NULLS LAST, p_partkey ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- Q11-ish: important stock per part in a nation vs a global
    //      fraction (grouped agg HAVING a scalar-subquery threshold;
    //      benchto q11.sql) ----
    "tpch_q11_important_stock" -> Q.sqlSame(
      s"""WITH $partsuppCte
        |SELECT ps_partkey,
        |  CAST(SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(30,8))) AS DOUBLE) AS part_value
        |FROM partsupp, supplier, nation
        |WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |  AND n_name = 'NATION_3'
        |GROUP BY ps_partkey
        |HAVING SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(30,8))) > (
        |  SELECT SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(30,8))) * 0.001
        |  FROM partsupp, supplier, nation
        |  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_name = 'NATION_3')
        |ORDER BY part_value DESC NULLS LAST, ps_partkey ASC NULLS LAST""".stripMargin),

    // ---- Q20-ish: suppliers with excess stock of promo parts (IN nested
    //      in IN with a doubly-correlated aggregate — the decorrelation
    //      stress shape; benchto q20.sql) ----
    "tpch_q20_excess_stock_supplier" -> Q.sqlSame(
      s"""WITH $partsuppCte
        |SELECT s_name, s_acctbal
        |FROM supplier, nation
        |WHERE s_suppkey IN (
        |    SELECT ps_suppkey FROM partsupp
        |    WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |      AND ps_availqty > (
        |        SELECT COALESCE(0.5 * SUM(l_quantity), 0.0) FROM lineitem
        |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |          AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |          AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'))
        |  AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
        |ORDER BY s_name ASC NULLS LAST""".stripMargin)
  )

  /** Deterministic partsupp derivation shared verbatim by the Spark and
    * DuckDB texts of q02/q11/q20: the distinct (l_partkey, l_suppkey)
    * pairs actually drawn by the synthetic lineitem — exactly how TPC-H
    * itself relates the two tables, so q20's correlated availqty-vs-
    * shipped-quantity aggregate runs against real matches instead of a
    * vacuous COALESCE — with integer-formula availqty (1..40, the same
    * order as a ship-window quantity sum, so the predicate genuinely
    * discriminates) and 2-dp supplycost.
    */
  private lazy val partsuppCte: String =
    """partsupp AS (
      |  SELECT ps_partkey, ps_suppkey,
      |    CAST((ps_partkey * 7 + ps_suppkey * 3) % 40 + 1 AS BIGINT) AS ps_availqty,
      |    CAST((ps_partkey * 13 + ps_suppkey * 29) % 90000 + 10000 AS DOUBLE) / 100.0 AS ps_supplycost
      |  FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      |        FROM lineitem) pairs)""".stripMargin
}
