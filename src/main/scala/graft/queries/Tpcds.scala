package graft.queries

import graft.Q

/** TPC-DS-class query shapes adapted to the driver schema — the reference
  * benchmarks 103 TPC-DS queries (presto-benchto-benchmarks/.../tpcds.yaml,
  * sql/presto/tpcds/q*.sql); this module re-expresses all ninety-nine
  * query families of that suite as structural analogs on the driver
  * schema (the TPC-H-ish queries cover none of these shapes): dim-heavy star joins with date rollups (q3),
  * multi-dim averages (q7), cross-border brand analysis (q19), ROLLUP with
  * a window function ranking within grouping level (q36/q86), multi-channel
  * UNION ALL re-aggregation (q71), count-band join-backs (q34/q73),
  * count-bucket pivots (q88), window-over-rollup top-k chains (q67),
  * multi-CTE channel intersections with a scalar HAVING bar (q14),
  * full-outer cumulative crossovers (q51), window-mean deviation screens
  * (q89), within-class revenue shares (q98/q12), correlated above-average
  * screens (q1/q30/q81), frequent-item ∩ best-customer CTE funnels (q23),
  * period-over-period share shifts (q31), year-over-year self-joined
  * aggregates (q2/q59), within-group low-revenue screens against an
  * agg-of-agg (q65), multi-EXISTS demographic screens (q10/q35/q69),
  * returns-adjusted net revenue (q93), lag/lead deviation neighborhoods
  * (q47/q57), returns-excluded growth with an order-level anti join (q78),
  * temporal funnels across order roles (q25/q29), dual-metric rank unions
  * (q49), cross-channel revenue bands (q58), time-of-day count ratios
  * over the events stream table (q90), composite-key self-joins of a
  * wide star (q64), distinct-count bucket pivots (q28), triple-fact
  * date-chained inventory joins (q72), multi-hop EXISTS over a
  * self-joined fact (q95), year-over-year CTE growth towers (q4/q74),
  * full-outer channel reports under a rollup (q77/q80), scalar-subquery
  * CASE towers (q9), ship-lag bucket matrices (q99), demand-volatility
  * screens (q39), channel-overlap counts (q97), wide month-pivot reports (q66), before/after balance screens (q21), revenue-segment histograms (q54), prior-period decline deltas (q75), multi-channel set-algebra counts (q38/q87), best/worst asymmetric rank joins (q44), correlated excess-discount screens (q92/q32), exclusive-ship EXISTS/NOT-EXISTS screens (q16/q94), channel sales+returns rollup reports (q5/q80), multi-OR demographic band selects (q13/q48), sale-return-repurchase 3-leg chains (q17/q29), cross-nation movement reports (q46/q68), demographic EXISTS towers (q10/q35), netpaid scalar-HAVING screens (q24), correlated category-average price screens (q6), INTERSECT-derived dim filters (q8), rollup average towers (q18/q22), dim-only correlated self-counts (q41), day-of-week pivots (q43), OR-of-IN-subquery screens (q45), week-over-week day-name pivot ratios (q2), two-channel growth screens (q11/q74), windowed revenue shares (q12/q20), three-way OR customer screens (q15), nation-exclusive ship screens (q16), catalog average towers (q26/q27), above-average returns details (q30/q81), correlated excess-quantity screens (q32), dim-filtered channel unions (q33/q56/q60), price+demand band screens (q37/q82), returns-netted before/after pivots (q40), trivial dim-fact reports (q42/q52/q55), latency bucket matrices (q50/q62), quarterly/profit deviation screens (q53/q63), rank-of-deviation neighborhoods (q57), promotional-share scalar pairs (q61), rank-restricted rollups (q70), narrow count bands (q73), null-channel reports (q76), aggregated pair-profit reports (q79), three-slice returns ratios (q83), no-fact dim chains with inline band tables (q84), triple-OR returns bands (q85), item-hierarchy rollups (q86), call-center loss reports (q91), and hour-band count probes (q96).
  *
  * Scale notes: every star join broadcasts its dims (part/customer/
  * supplier/nation stay far under the broadcast threshold at any SF); the
  * fact table shuffles only on GROUP BY keys; rollup/window phases operate
  * on the aggregated (small) side. All sums go through the exact-decimal
  * pattern so partial-agg order cannot perturb bit equality.
  */
object Tpcds {

  val qs: Map[String, Q] = Map(

    // ---- q3-style: yearly brand revenue (date dim + item dim star, topn)
    "tpcds_q3_brand_by_year" -> Q.sqlSame(
      """SELECT year(o_orderdate) AS d_year, p_brand,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS sum_agg
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_type = 'PROMO' AND month(o_orderdate) = 12
        |GROUP BY year(o_orderdate), p_brand
        |ORDER BY d_year ASC NULLS LAST, sum_agg DESC NULLS LAST, p_brand ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q7-style: multi-measure averages across a 4-way star ----
    "tpcds_q7_avg_by_item" -> Q.sqlSame(
      """SELECT p_type,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS agg1,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS agg2,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) AS agg3,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS agg4
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN part ON p_partkey = l_partkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderpriority LIKE '1%'
        |GROUP BY p_type
        |ORDER BY p_type ASC NULLS LAST""".stripMargin),

    // ---- q19-style: brand revenue where buyer and supplier sit in
    //      different nations (the cross-border analog of q19's
    //      store-zip <> customer-zip filter) ----
    "tpcds_q19_cross_border_brand" -> Q.sqlSame(
      """SELECT n1.n_name AS supp_nation, p_brand,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS ext_price
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN part ON p_partkey = l_partkey
        |JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |WHERE p_size BETWEEN 1 AND 10
        |  AND c_nationkey <> s_nationkey
        |  AND year(o_orderdate) = 1996
        |GROUP BY n1.n_name, p_brand
        |ORDER BY ext_price DESC NULLS LAST, supp_nation ASC NULLS LAST, p_brand ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q36/q86-style: margin ROLLUP over the geography hierarchy with
    //      a rank() within each grouping level — window over aggregate
    //      over rollup, the TPC-DS signature chain ----
    // Spark side pre-aggregates on the full (r_name, n_name) key before
    // the ROLLUP (same two-level rewrite as q67: Expand multiplies
    // pre-summed rows, not fact rows; dsum8_dec keeps the exact decimal
    // partial, outer decimal re-sum exact by associativity, the ratio's
    // two double casts land above it unchanged). DuckDB keeps the
    // single-level form.
    "tpcds_q36_rollup_rank" -> Q.sql(
      spark =
        """SELECT lochierarchy, r_name, n_name,
          |  ROUND(gross_margin, 6) AS gross_margin,
          |  RANK() OVER (PARTITION BY lochierarchy
          |               ORDER BY ROUND(gross_margin, 6) ASC, r_name ASC NULLS FIRST,
          |                        n_name ASC NULLS FIRST) AS rank_within_parent
          |FROM (
          |  SELECT r_name, n_name,
          |    GROUPING(r_name) + GROUPING(n_name) AS lochierarchy,
          |    CAST(SUM(psn) AS DOUBLE) / CAST(SUM(psd) AS DOUBLE) AS gross_margin
          |  FROM (
          |    SELECT r_name, n_name,
          |      dsum8_dec(l_extendedprice * (1 - l_discount) - l_quantity * 100.0) AS psn,
          |      dsum8_dec(l_extendedprice) AS psd
          |    FROM lineitem
          |    JOIN supplier ON s_suppkey = l_suppkey
          |    JOIN nation ON n_nationkey = s_nationkey
          |    JOIN region ON r_regionkey = n_regionkey
          |    GROUP BY r_name, n_name) preagg
          |  GROUP BY ROLLUP (r_name, n_name)) t
          |ORDER BY lochierarchy DESC NULLS LAST, r_name ASC NULLS LAST,
          |  n_name ASC NULLS LAST""".stripMargin,
      duck =
        """SELECT lochierarchy, r_name, n_name,
          |  ROUND(gross_margin, 6) AS gross_margin,
          |  RANK() OVER (PARTITION BY lochierarchy
          |               ORDER BY ROUND(gross_margin, 6) ASC, r_name ASC NULLS FIRST,
          |                        n_name ASC NULLS FIRST) AS rank_within_parent
          |FROM (
          |  SELECT r_name, n_name,
          |    GROUPING(r_name) + GROUPING(n_name) AS lochierarchy,
          |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) - l_quantity * 100.0 AS DECIMAL(30,8))) AS DOUBLE)
          |      / CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) AS gross_margin
          |  FROM lineitem
          |  JOIN supplier ON s_suppkey = l_suppkey
          |  JOIN nation ON n_nationkey = s_nationkey
          |  JOIN region ON r_regionkey = n_regionkey
          |  GROUP BY ROLLUP (r_name, n_name)) t
          |ORDER BY lochierarchy DESC NULLS LAST, r_name ASC NULLS LAST,
          |  n_name ASC NULLS LAST""".stripMargin),

    // ---- q71-style: three order-priority "channels" re-aggregated after
    //      UNION ALL (the web/catalog/store union shape) ----
    // Spark side folds the three disjoint-priority UNION ALL arms into
    // one pass with a CASE-routed channel label (same row multiset: each
    // row lands in exactly one arm; the IS NOT NULL guard matches all
    // three arms dropping a null priority) — the lineitem⋈orders join
    // runs once instead of three times. DuckDB keeps the three-arm form.
    "tpcds_q71_channel_union" -> Q.sql(
      spark =
      """SELECT p_brand, channel,
        |  CAST(SUM(CAST(ext_price AS DECIMAL(30,8))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT l_partkey AS partkey,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent'
        |         WHEN o_orderpriority = '2-HIGH' THEN 'high'
        |         ELSE 'other' END AS channel,
        |    l_extendedprice * (1 - l_discount) AS ext_price
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderpriority IS NOT NULL) ch
        |JOIN part ON p_partkey = partkey
        |WHERE p_type = 'ECONOMY'
        |GROUP BY p_brand, channel
        |ORDER BY p_brand ASC NULLS LAST, channel ASC NULLS LAST""".stripMargin,
      duck =
      """SELECT p_brand, channel,
        |  CAST(SUM(CAST(ext_price AS DECIMAL(30,8))) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT l_partkey AS partkey, 'urgent' AS channel,
        |    l_extendedprice * (1 - l_discount) AS ext_price
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT l_partkey, 'high', l_extendedprice * (1 - l_discount)
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderpriority = '2-HIGH'
        |  UNION ALL
        |  SELECT l_partkey, 'other', l_extendedprice * (1 - l_discount)
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) ch
        |JOIN part ON p_partkey = partkey
        |WHERE p_type = 'ECONOMY'
        |GROUP BY p_brand, channel
        |ORDER BY p_brand ASC NULLS LAST, channel ASC NULLS LAST""".stripMargin),

    // ---- q34/q73-style: orders whose line count sits in a band, joined
    //      back to the customer dim (count-distribution join-back) ----
    "tpcds_q34_lines_band" -> Q.sqlSame(
      """SELECT c_name, c_custkey, o_orderkey, cnt
        |FROM (
        |  SELECT l_orderkey AS okey, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING COUNT(*) BETWEEN 5 AND 7) ln
        |JOIN orders ON o_orderkey = okey
        |JOIN customer ON c_custkey = o_custkey
        |WHERE o_orderstatus = 'F'
        |ORDER BY cnt DESC NULLS LAST, c_name ASC NULLS LAST, o_orderkey ASC NULLS LAST
        |LIMIT 200""".stripMargin),

    // ---- q88-style: count-bucket pivot — eight independent band counts
    //      pivoted into one row via comma cross join. Each bucket count is
    //      an independent partial-agg over the same fact scan; Spark plans
    //      eight parallel global aggregates over one-row joins (all
    //      broadcast), never a shuffle wider than a single long ----
    "tpcds_q88_count_buckets" -> Q.sqlSame(
      """SELECT b1.cnt AS h1, b2.cnt AS h2, b3.cnt AS h3, b4.cnt AS h4,
        |       b5.cnt AS h5, b6.cnt AS h6, b7.cnt AS h7, b8.cnt AS h8
        |FROM
        |  (SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity BETWEEN 1 AND 6 AND l_discount < 0.05) b1,
        |  (SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity BETWEEN 7 AND 12 AND l_discount < 0.05) b2,
        |  (SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity BETWEEN 13 AND 18 AND l_discount < 0.05) b3,
        |  (SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity BETWEEN 19 AND 24 AND l_discount < 0.05) b4,
        |  (SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity BETWEEN 25 AND 30 AND l_discount >= 0.05) b5,
        |  (SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity BETWEEN 31 AND 36 AND l_discount >= 0.05) b6,
        |  (SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity BETWEEN 37 AND 42 AND l_discount >= 0.05) b7,
        |  (SELECT COUNT(*) AS cnt FROM lineitem WHERE l_quantity BETWEEN 43 AND 50 AND l_discount >= 0.05) b8""".stripMargin),

    // ---- q67-style: window-over-rollup chain — revenue ROLLUP over the
    //      (p_type, p_brand) hierarchy, then rank() WITHIN each p_type
    //      partition (rollup subtotal rows fall into the NULL-type
    //      partition, exactly q67's i_category grouping), keep top 10.
    //      The window runs on the aggregated (small) side. The DISPLAYED
    //      sum rounds to 2 decimals: the grand-total row accumulates ~60k
    //      per-row double→decimal cast roundings whose half-boundary
    //      behavior differs between engines by ~1 ulp; ranking uses the
    //      unrounded value, where inter-brand gaps dwarf an ulp ----
    // Spark side pre-aggregates on the full (p_type, p_brand) key BEFORE
    // the ROLLUP so Expand multiplies ~|type×brand| pre-summed rows, not
    // 600k fact rows (measured 1.03 s → 0.40 s on the rollup shape at
    // sf0.1 — OPTIMIZATION_r17.md). Exact equivalence: dsum8_dec keeps the
    // full-precision DECIMAL(38,8) partial (= SUM(CAST(.. AS
    // DECIMAL(30,8))) bitwise, Dsum8Spec), decimal addition is associative
    // so rollup-of-presums = direct rollup, and the double cast happens
    // once above. The DuckDB oracle keeps the single-level formulation.
    "tpcds_q67_rollup_topk" -> Q.sql(headline = true,
      spark =
        """SELECT p_type, p_brand, ROUND(sumsales, 2) AS sumsales, rk
          |FROM (
          |  SELECT p_type, p_brand, sumsales,
          |    RANK() OVER (PARTITION BY p_type
          |                 ORDER BY sumsales DESC, p_brand ASC NULLS FIRST) AS rk
          |  FROM (
          |    SELECT p_type, p_brand, CAST(SUM(ps) AS DOUBLE) AS sumsales
          |    FROM (
          |      SELECT p_type, p_brand,
          |        dsum8_dec(l_extendedprice * (1 - l_discount)) AS ps
          |      FROM lineitem JOIN part ON p_partkey = l_partkey
          |      GROUP BY p_type, p_brand) preagg
          |    GROUP BY ROLLUP (p_type, p_brand)) agg) ranked
          |WHERE rk <= 10
          |ORDER BY p_type ASC NULLS FIRST, rk ASC NULLS LAST, p_brand ASC NULLS FIRST""".stripMargin,
      duck =
        """SELECT p_type, p_brand, ROUND(sumsales, 2) AS sumsales, rk
          |FROM (
          |  SELECT p_type, p_brand, sumsales,
          |    RANK() OVER (PARTITION BY p_type
          |                 ORDER BY sumsales DESC, p_brand ASC NULLS FIRST) AS rk
          |  FROM (
          |    SELECT p_type, p_brand,
          |      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS sumsales
          |    FROM lineitem JOIN part ON p_partkey = l_partkey
          |    GROUP BY ROLLUP (p_type, p_brand)) agg) ranked
          |WHERE rk <= 10
          |ORDER BY p_type ASC NULLS FIRST, rk ASC NULLS LAST, p_brand ASC NULLS FIRST""".stripMargin),

    // ---- q14-style: multi-CTE channel intersection — parts sold through
    //      ALL THREE priority channels (INTERSECT chain), an avg-sales
    //      scalar CTE as the HAVING bar, then per-channel re-aggregation
    //      over the intersected part set. Both HAVING operands derive from
    //      exact decimal sums (then one IEEE division), so the comparison
    //      is bit-deterministic across engines ----
    // Spark side: (1) the INTERSECT chain — three lineitem⋈orders passes
    // plus two intersect shuffles — becomes ONE pass with per-channel
    // presence flags (GROUP BY pk HAVING all three MAX(flag)=1 ≡ set
    // intersection of the three DISTINCT pk sets, null pk grouped
    // null-safely on both forms); (2) the two disjoint-priority channel
    // arms fold into one grouped aggregate on (channel, brand) — disjoint
    // groups, identical per-group HAVING. 5 fact passes → 3 (cross_parts,
    // avg_sales, channels). DuckDB keeps the original formulation.
    "tpcds_q14_cross_channel" -> Q.sql(
      spark =
      """WITH cross_parts AS (
        |  SELECT l_partkey AS pk
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
        |  GROUP BY l_partkey
        |  HAVING MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) = 1
        |     AND MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) = 1
        |     AND MAX(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) = 1),
        |avg_sales AS (
        |  SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE)
        |    / COUNT(*) AS average FROM lineitem)
        |SELECT channel, p_brand, sales, cnt
        |FROM (
        |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent' ELSE 'high' END AS channel,
        |    p_brand,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS sales,
        |    COUNT(*) AS cnt
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    AND l_partkey IN (SELECT pk FROM cross_parts)
        |  GROUP BY CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent' ELSE 'high' END, p_brand
        |  HAVING CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE)
        |    > 20 * (SELECT average FROM avg_sales)) ch
        |ORDER BY channel ASC NULLS LAST, p_brand ASC NULLS LAST""".stripMargin,
      duck =
      """WITH cross_parts AS (
        |  SELECT l_partkey AS pk FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT
        |  SELECT l_partkey FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderpriority = '2-HIGH'
        |  INTERSECT
        |  SELECT l_partkey FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderpriority = '3-MEDIUM'),
        |avg_sales AS (
        |  SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE)
        |    / COUNT(*) AS average FROM lineitem)
        |SELECT channel, p_brand, sales, cnt
        |FROM (
        |  SELECT 'urgent' AS channel, p_brand,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS sales,
        |    COUNT(*) AS cnt
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE o_orderpriority = '1-URGENT' AND l_partkey IN (SELECT pk FROM cross_parts)
        |  GROUP BY p_brand
        |  HAVING CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE)
        |    > 20 * (SELECT average FROM avg_sales)
        |  UNION ALL
        |  SELECT 'high', p_brand,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE),
        |    COUNT(*)
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE o_orderpriority = '2-HIGH' AND l_partkey IN (SELECT pk FROM cross_parts)
        |  GROUP BY p_brand
        |  HAVING CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE)
        |    > 20 * (SELECT average FROM avg_sales)) ch
        |ORDER BY channel ASC NULLS LAST, p_brand ASC NULLS LAST""".stripMargin),

    // ---- q51-style: cumulative-revenue crossover — per-month revenue of
    //      two channels FULL OUTER JOINed on month, running totals over
    //      the ordered months, keep months where the urgent channel's
    //      cumulative exceeds the other's. Cumulative sums stay in decimal
    //      until the final cast, so running totals are exact ----
    "tpcds_q51_cumulative_compare" -> Q.sqlSame(
      """SELECT mo, urgent_cum, other_cum
        |FROM (
        |  SELECT COALESCE(u.mo, o.mo) AS mo,
        |    CAST(SUM(COALESCE(u.rev, 0)) OVER (ORDER BY COALESCE(u.mo, o.mo)) AS DOUBLE) AS urgent_cum,
        |    CAST(SUM(COALESCE(o.rev, 0)) OVER (ORDER BY COALESCE(u.mo, o.mo)) AS DOUBLE) AS other_cum
        |  FROM (
        |    SELECT month(o_orderdate) AS mo,
        |      SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS rev
        |    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |    WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1996
        |    GROUP BY month(o_orderdate)) u
        |  FULL OUTER JOIN (
        |    SELECT month(o_orderdate) AS mo,
        |      SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS rev
        |    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |    WHERE o_orderpriority = '5-LOW' AND year(o_orderdate) = 1996
        |    GROUP BY month(o_orderdate)) o
        |  ON u.mo = o.mo) t
        |WHERE urgent_cum > other_cum
        |ORDER BY mo ASC NULLS LAST""".stripMargin),

    // ---- q89-style: monthly deviation from the type's yearly mean —
    //      per-(type, month) revenue, the window mean over the type
    //      partition from exact SUM/COUNT (one IEEE division), keep rows
    //      deviating >10% from their mean ----
    "tpcds_q89_monthly_deviation" -> Q.sqlSame(
      """SELECT p_type, mo, rev, ROUND(avg_monthly, 6) AS avg_monthly
        |FROM (
        |  SELECT p_type, mo, rev,
        |    CAST(SUM(CAST(rev AS DECIMAL(30,8))) OVER (PARTITION BY p_type) AS DOUBLE)
        |      / COUNT(*) OVER (PARTITION BY p_type) AS avg_monthly
        |  FROM (
        |    SELECT p_type, month(o_orderdate) AS mo,
        |      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS rev
        |    FROM lineitem
        |    JOIN orders ON o_orderkey = l_orderkey
        |    JOIN part ON p_partkey = l_partkey
        |    WHERE year(o_orderdate) = 1996
        |    GROUP BY p_type, month(o_orderdate)) m) d
        |WHERE rev > 1.1 * avg_monthly OR rev < 0.9 * avg_monthly
        |ORDER BY p_type ASC NULLS LAST, mo ASC NULLS LAST""".stripMargin),

    // ---- q98/q12-style: revenue share within class — each brand's share
    //      of its type's revenue via an exact decimal window sum ----
    "tpcds_q98_class_ratio" -> Q.sqlSame(
      """SELECT p_type, p_brand, rev,
        |  ROUND(rev * 100 / CAST(SUM(CAST(rev AS DECIMAL(30,8))) OVER (PARTITION BY p_type) AS DOUBLE), 6)
        |    AS revenueratio
        |FROM (
        |  SELECT p_type, p_brand,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS rev
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_size <= 20
        |  GROUP BY p_type, p_brand) b
        |ORDER BY p_type ASC NULLS LAST, revenueratio DESC NULLS LAST, p_brand ASC NULLS LAST""".stripMargin),

    // ---- q1/q30/q81-style: correlated above-average screen — customers
    //      whose returned revenue exceeds 1.2× the mean over their nation.
    //      The CTE aggregates once; the correlated scalar subquery re-reads
    //      the (small) aggregate, so Spark plans one fact shuffle plus a
    //      broadcast of the per-nation means. Mean = exact decimal SUM /
    //      COUNT (one IEEE division) so the bar is bit-deterministic ----
    "tpcds_q1_returns_above_avg" -> Q.sqlSame(
      """WITH cust_returns AS (
        |  SELECT c_custkey AS ctr_custkey, c_nationkey AS ctr_nationkey,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS ctr_total
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY c_custkey, c_nationkey)
        |SELECT c_name, CAST(ctr_total AS DOUBLE) AS ctr_total
        |FROM cust_returns ctr1
        |JOIN customer ON c_custkey = ctr_custkey
        |WHERE CAST(ctr_total AS DOUBLE) > (
        |  SELECT CAST(SUM(ctr2.ctr_total) AS DOUBLE) / COUNT(*) * 1.2
        |  FROM cust_returns ctr2
        |  WHERE ctr2.ctr_nationkey = ctr1.ctr_nationkey)
        |ORDER BY c_name ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q23-style: frequent-item ∩ best-customer funnel — two HAVING
    //      CTEs (parts sold >30 times, customers with >1000 total quantity)
    //      both applied as semi joins to a year slice of the fact table.
    //      Both CTE aggregates shuffle once on their own key and arrive at
    //      the fact scan as broadcast semi joins ----
    "tpcds_q23_frequent_best" -> Q.sqlSame(
      """WITH frequent_parts AS (
        |  SELECT l_partkey AS fp FROM lineitem
        |  GROUP BY l_partkey HAVING COUNT(*) > 30),
        |best_customers AS (
        |  SELECT o_custkey AS bc
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY o_custkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(30,8))) > 1000)
        |SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS total_sales,
        |  COUNT(*) AS cnt
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |WHERE l_partkey IN (SELECT fp FROM frequent_parts)
        |  AND o_custkey IN (SELECT bc FROM best_customers)
        |  AND year(o_orderdate) = 1997""".stripMargin),

    // ---- q31-style: period-over-period share shift — nations where the
    //      urgent channel's Q1→Q2 growth outpaces total growth. One
    //      aggregate CTE carrying both measures (conditional SUM), then a
    //      self-join on nation pivots the two quarters side by side; the
    //      joined side is 25 rows, broadcast. Growth = ratio of two
    //      exactly-summed decimals (one IEEE division each) ----
    "tpcds_q31_share_shift" -> Q.sqlSame(
      """WITH rev AS (
        |  SELECT n_name, quarter(o_orderdate) AS q,
        |    SUM(CAST(CASE WHEN o_orderpriority = '1-URGENT'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(30,8))) AS urgent_rev,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS total_rev
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  WHERE year(o_orderdate) = 1996 AND quarter(o_orderdate) IN (1, 2)
        |  GROUP BY n_name, quarter(o_orderdate))
        |SELECT q1.n_name AS n_name,
        |  ROUND(CAST(q2.urgent_rev AS DOUBLE) / CAST(q1.urgent_rev AS DOUBLE), 6) AS urgent_growth,
        |  ROUND(CAST(q2.total_rev AS DOUBLE) / CAST(q1.total_rev AS DOUBLE), 6) AS total_growth
        |FROM rev q1 JOIN rev q2 ON q1.n_name = q2.n_name AND q1.q = 1 AND q2.q = 2
        |WHERE CAST(q1.urgent_rev AS DOUBLE) > 0
        |  AND CAST(q2.urgent_rev AS DOUBLE) / CAST(q1.urgent_rev AS DOUBLE)
        |    > CAST(q2.total_rev AS DOUBLE) / CAST(q1.total_rev AS DOUBLE)
        |ORDER BY n_name ASC NULLS LAST""".stripMargin),

    // ---- q2/q59-style: year-over-year self-joined aggregate — monthly
    //      revenue 1996 vs 1997 pivoted by a self-join on month. The CTE
    //      aggregates the fact table once (24 output rows); the self-join
    //      is broadcast trivially ----
    "tpcds_q59_year_over_year" -> Q.sqlSame(
      """WITH m AS (
        |  SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS rev
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE year(o_orderdate) IN (1996, 1997)
        |  GROUP BY year(o_orderdate), month(o_orderdate))
        |SELECT a.mo AS mo, CAST(a.rev AS DOUBLE) AS rev1, CAST(b.rev AS DOUBLE) AS rev2,
        |  ROUND(CAST(b.rev AS DOUBLE) / CAST(a.rev AS DOUBLE), 6) AS ratio
        |FROM m a JOIN m b ON a.mo = b.mo AND a.yr = 1996 AND b.yr = 1997
        |ORDER BY mo ASC NULLS LAST""".stripMargin),

    // ---- q65-style: low-revenue screen against an agg-of-agg — (supplier,
    //      part) revenue pairs at or below 10% of that supplier's mean
    //      part-revenue. First aggregate shuffles the fact table on the
    //      pair key; the second aggregates the (already small) result per
    //      supplier; the final join is agg-to-agg, not fact-to-fact ----
    "tpcds_q65_low_revenue_parts" -> Q.sql(
      spark =
      // r18 fold (guide §2.4): the `sp` CTE was inlined under BOTH the
      // agg-of-agg (`sa`) and the join back to it, so the lineitem
      // aggregate ran twice (plans/r18/..._before.txt: two Scan+Exchange+
      // HashAggregate towers; two ~750 ms jobs, OPTIMIZATION_r18.md step 3). The supplier mean
      // is the per-sk SUM/COUNT over sp's rows, so a window over ONE sp
      // pass computes the identical value (decimal window SUM is the same
      // exact-associative decimal sum; COUNT(*) identical; sk-null rows
      // differ only in rows the inner supplier join drops either way).
      // DuckDB keeps the two-level agg-join form.
      """WITH sp AS (
        |  SELECT l_suppkey AS sk, l_partkey AS pk,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS rev
        |  FROM lineitem GROUP BY l_suppkey, l_partkey),
        |w AS (
        |  SELECT sk, pk, rev,
        |    CAST(SUM(rev) OVER (PARTITION BY sk) AS DOUBLE)
        |      / COUNT(*) OVER (PARTITION BY sk) AS avg_rev
        |  FROM sp)
        |SELECT s_name, p_name, CAST(rev AS DOUBLE) AS rev, ROUND(avg_rev, 6) AS avg_rev
        |FROM w
        |JOIN supplier ON s_suppkey = sk
        |JOIN part ON p_partkey = pk
        |WHERE CAST(rev AS DOUBLE) <= 0.1 * avg_rev
        |ORDER BY s_name ASC NULLS LAST, p_name ASC NULLS LAST, rev ASC NULLS LAST
        |LIMIT 200""".stripMargin,
      duck =
      """WITH sp AS (
        |  SELECT l_suppkey AS sk, l_partkey AS pk,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS rev
        |  FROM lineitem GROUP BY l_suppkey, l_partkey),
        |sa AS (
        |  SELECT sk AS sk2, CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS avg_rev
        |  FROM sp GROUP BY sk)
        |SELECT s_name, p_name, CAST(rev AS DOUBLE) AS rev, ROUND(avg_rev, 6) AS avg_rev
        |FROM sp
        |JOIN sa ON sk = sk2
        |JOIN supplier ON s_suppkey = sk
        |JOIN part ON p_partkey = pk
        |WHERE CAST(rev AS DOUBLE) <= 0.1 * avg_rev
        |ORDER BY s_name ASC NULLS LAST, p_name ASC NULLS LAST, rev ASC NULLS LAST
        |LIMIT 200""".stripMargin),

    // ---- q10/q35/q69-style: multi-EXISTS demographic screen — customers
    //      active in the urgent channel but absent from the low channel,
    //      counted by nation. Both EXISTS sides aggregate to distinct
    //      custkeys and arrive as broadcast semi/anti joins against the
    //      customer dim ----
    "tpcds_q69_channel_exclusive" -> Q.sqlSame(
      """SELECT n_name, COUNT(*) AS cnt
        |FROM customer JOIN nation ON n_nationkey = c_nationkey
        |WHERE EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '5-LOW')
        |GROUP BY n_name
        |ORDER BY n_name ASC NULLS LAST""".stripMargin),

    // ---- q47/q57-style: lag/lead neighbors around a deviation screen —
    //      monthly brand revenue, rows deviating >10% from the brand's
    //      yearly mean, displayed with their previous and next month's
    //      revenue. Both the mean and the lag/lead value windows run over
    //      the aggregated series (12 rows per brand), never the fact
    //      table; rev is exact-decimal-summed before any window sees it ----
    "tpcds_q47_lag_lead_deviation" -> Q.sqlSame(
      """SELECT p_brand, mo, rev, ROUND(prev_rev, 2) AS prev_rev,
        |  ROUND(next_rev, 2) AS next_rev
        |FROM (
        |  SELECT p_brand, mo, rev,
        |    LAG(rev) OVER (PARTITION BY p_brand ORDER BY mo) AS prev_rev,
        |    LEAD(rev) OVER (PARTITION BY p_brand ORDER BY mo) AS next_rev,
        |    CAST(SUM(CAST(rev AS DECIMAL(30,8))) OVER (PARTITION BY p_brand) AS DOUBLE)
        |      / COUNT(*) OVER (PARTITION BY p_brand) AS avg_rev
        |  FROM (
        |    SELECT p_brand, month(o_orderdate) AS mo,
        |      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS rev
        |    FROM lineitem
        |    JOIN orders ON o_orderkey = l_orderkey
        |    JOIN part ON p_partkey = l_partkey
        |    WHERE year(o_orderdate) = 1996 AND p_type = 'PROMO'
        |    GROUP BY p_brand, month(o_orderdate)) m) d
        |WHERE (rev > 1.1 * avg_rev OR rev < 0.9 * avg_rev)
        |  AND prev_rev IS NOT NULL AND next_rev IS NOT NULL
        |ORDER BY p_brand ASC NULLS LAST, mo ASC NULLS LAST""".stripMargin),

    // ---- q78-style: returns-excluded year-over-year growth — supplier
    //      sales counting only orders with NO returned line (correlated
    //      NOT EXISTS → anti join at order granularity, q78's
    //      ws_order_number-not-in-returns shape), pivoted 1996 vs 1997 by
    //      a self-join on supplier, ranked by growth ----
    "tpcds_q78_clean_order_growth" -> Q.sqlSame(
      """WITH clean AS (
        |  SELECT l_suppkey AS sk, year(o_orderdate) AS yr,
        |    SUM(CAST(l_quantity AS DECIMAL(30,8))) AS qty,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS amt
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE year(o_orderdate) IN (1996, 1997)
        |    AND NOT EXISTS (
        |      SELECT 1 FROM lineitem r
        |      WHERE r.l_orderkey = o_orderkey AND r.l_returnflag = 'R')
        |  GROUP BY l_suppkey, year(o_orderdate))
        |SELECT s_name, CAST(a.qty AS DOUBLE) AS qty1, CAST(b.qty AS DOUBLE) AS qty2,
        |  ROUND(CAST(b.amt AS DOUBLE) / CAST(a.amt AS DOUBLE), 6) AS growth
        |FROM clean a
        |JOIN clean b ON a.sk = b.sk AND a.yr = 1996 AND b.yr = 1997
        |JOIN supplier ON s_suppkey = a.sk
        |ORDER BY growth DESC NULLS LAST, s_name ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q25/q29-style: temporal funnel across order roles — revenue of
    //      orders placed by customers who already had an order more than
    //      90 days earlier (the sold-then-returned-then-repurchased date
    //      chain, on the driver schema's two order roles). The correlated
    //      EXISTS carries one equality (custkey) plus a non-equi date
    //      bound, lowering to a semi join with a range condition ----
    "tpcds_q25_repeat_revenue" -> Q.sqlSame(
      """SELECT n_name, COUNT(*) AS repeat_orders,
        |  CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS repeat_revenue
        |FROM orders o2
        |JOIN customer ON c_custkey = o2.o_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o1
        |  WHERE o1.o_custkey = o2.o_custkey
        |    AND o1.o_orderdate < o2.o_orderdate - INTERVAL 90 DAY)
        |GROUP BY n_name
        |ORDER BY n_name ASC NULLS LAST""".stripMargin),

    // ---- q49-style: dual-metric rank union — per-brand return ratios by
    //      quantity AND by amount, each ranked independently over the same
    //      aggregate, keeping anything top-10 on either. Both ratios are
    //      exact-decimal sums divided once; both windows run over the
    //      ~brand-count aggregate, not the fact table ----
    "tpcds_q49_dual_rank" -> Q.sqlSame(
      """SELECT p_brand, ROUND(ratio_q, 6) AS ratio_q, qty_rank, amt_rank
        |FROM (
        |  SELECT p_brand,
        |    CAST(ret_qty AS DOUBLE) / CAST(qty AS DOUBLE) AS ratio_q,
        |    RANK() OVER (ORDER BY CAST(ret_qty AS DOUBLE) / CAST(qty AS DOUBLE) DESC,
        |                 p_brand ASC) AS qty_rank,
        |    RANK() OVER (ORDER BY CAST(ret_amt AS DOUBLE) / CAST(amt AS DOUBLE) DESC,
        |                 p_brand ASC) AS amt_rank
        |  FROM (
        |    SELECT p_brand,
        |      SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END AS DECIMAL(30,8))) AS ret_qty,
        |      SUM(CAST(l_quantity AS DECIMAL(30,8))) AS qty,
        |      SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END AS DECIMAL(30,8))) AS ret_amt,
        |      SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS amt
        |    FROM lineitem JOIN part ON p_partkey = l_partkey
        |    GROUP BY p_brand) m) r
        |WHERE qty_rank <= 10 OR amt_rank <= 10
        |ORDER BY qty_rank ASC NULLS LAST, p_brand ASC NULLS LAST""".stripMargin),

    // ---- q58-style: cross-channel revenue band — brands whose revenue in
    //      each of the three main priority channels sits within ±20% of
    //      the brand's cross-channel mean. One conditional-sum pass
    //      carries all three channels (no union, no re-scan); the band
    //      compare happens on the tiny aggregate ----
    "tpcds_q58_channel_band" -> Q.sqlSame(
      """SELECT p_brand, r1, r2, r3
        |FROM (
        |  SELECT p_brand,
        |    CAST(c1 AS DOUBLE) AS r1, CAST(c2 AS DOUBLE) AS r2, CAST(c3 AS DOUBLE) AS r3,
        |    CAST(c1 + c2 + c3 AS DOUBLE) / 3 AS avg3
        |  FROM (
        |    SELECT p_brand,
        |      SUM(CAST(CASE WHEN o_orderpriority = '1-URGENT'
        |        THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(30,8))) AS c1,
        |      SUM(CAST(CASE WHEN o_orderpriority = '2-HIGH'
        |        THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(30,8))) AS c2,
        |      SUM(CAST(CASE WHEN o_orderpriority = '3-MEDIUM'
        |        THEN l_extendedprice * (1 - l_discount) ELSE 0 END AS DECIMAL(30,8))) AS c3
        |    FROM lineitem
        |    JOIN orders ON o_orderkey = l_orderkey
        |    JOIN part ON p_partkey = l_partkey
        |    GROUP BY p_brand) s) b
        |WHERE r1 BETWEEN 0.8 * avg3 AND 1.2 * avg3
        |  AND r2 BETWEEN 0.8 * avg3 AND 1.2 * avg3
        |  AND r3 BETWEEN 0.8 * avg3 AND 1.2 * avg3
        |ORDER BY p_brand ASC NULLS LAST""".stripMargin),

    // ---- q90-style: time-of-day ratio — morning (07-11) vs evening
    //      (17-21) event counts per type over the events stream table,
    //      one conditional-count pass, ratio on the aggregate ----
    "tpcds_q90_am_pm" -> Q.sql(
      spark = """SELECT event_type,
        |  CAST(SUM(CASE WHEN hour(ts) BETWEEN 7 AND 11 THEN 1 ELSE 0 END) AS BIGINT) AS am_cnt,
        |  CAST(SUM(CASE WHEN hour(ts) BETWEEN 17 AND 21 THEN 1 ELSE 0 END) AS BIGINT) AS pm_cnt,
        |  ROUND(CAST(SUM(CASE WHEN hour(ts) BETWEEN 7 AND 11 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / NULLIF(SUM(CASE WHEN hour(ts) BETWEEN 17 AND 21 THEN 1 ELSE 0 END), 0), 6) AS am_pm_ratio
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type ASC NULLS LAST""".stripMargin,
      duck = """SELECT event_type,
        |  CAST(SUM(CASE WHEN hour(CAST(ts AS TIMESTAMP)) BETWEEN 7 AND 11 THEN 1 ELSE 0 END) AS BIGINT) AS am_cnt,
        |  CAST(SUM(CASE WHEN hour(CAST(ts AS TIMESTAMP)) BETWEEN 17 AND 21 THEN 1 ELSE 0 END) AS BIGINT) AS pm_cnt,
        |  ROUND(CAST(SUM(CASE WHEN hour(CAST(ts AS TIMESTAMP)) BETWEEN 7 AND 11 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / NULLIF(SUM(CASE WHEN hour(CAST(ts AS TIMESTAMP)) BETWEEN 17 AND 21 THEN 1 ELSE 0 END), 0), 6) AS am_pm_ratio
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type ASC NULLS LAST""".stripMargin),

    // ---- q64-style: composite-key self-join of a wide star — per
    //      (part, supplier) revenue aggregated per year, the two years
    //      matched by a self-join on the COMPOSITE key (q64's
    //      cs1.item_sk = cs2.item_sk ∧ syear conditions), dims joined
    //      after the aggregate so the wide fan touches grouped rows, not
    //      the fact table. Full-column ORDER BY keeps the LIMIT edge
    //      deterministic under duplicate part names ----
    "tpcds_q64_composite_resale" -> Q.sqlSame(headline = true, text =
      """WITH sales AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk, year(o_orderdate) AS yr,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS rev,
        |    COUNT(*) AS cnt
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE year(o_orderdate) IN (1996, 1997)
        |  GROUP BY l_partkey, l_suppkey, year(o_orderdate))
        |SELECT p_name, s_name, n_name,
        |  CAST(a.rev AS DOUBLE) AS rev1, CAST(b.rev AS DOUBLE) AS rev2,
        |  a.cnt AS cnt1, b.cnt AS cnt2
        |FROM sales a
        |JOIN sales b ON a.pk = b.pk AND a.sk = b.sk AND a.yr = 1996 AND b.yr = 1997
        |JOIN part ON p_partkey = a.pk
        |JOIN supplier ON s_suppkey = a.sk
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE CAST(b.rev AS DOUBLE) > CAST(a.rev AS DOUBLE)
        |ORDER BY p_name ASC NULLS LAST, s_name ASC NULLS LAST,
        |  rev1 ASC NULLS LAST, rev2 ASC NULLS LAST, cnt1 ASC NULLS LAST, cnt2 ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q28-style: distinct-count bucket pivot — four quantity bands,
    //      each contributing an average price, a row count, AND a COUNT
    //      DISTINCT, pivoted into one row. The distinct aggregates force
    //      per-bucket expand/dedup plans (MarkDistinct machinery) over the
    //      same scan; the pivot joins four single-row sides (broadcast) ----
    "tpcds_q28_distinct_buckets" -> Q.sqlSame(
      """SELECT b1.avg1, b1.cnt1, b1.cntd1, b2.avg2, b2.cnt2, b2.cntd2,
        |  b3.avg3, b3.cnt3, b3.cntd3, b4.avg4, b4.cnt4, b4.cntd4
        |FROM
        |  (SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 2) AS avg1,
        |     COUNT(*) AS cnt1, COUNT(DISTINCT l_partkey) AS cntd1
        |   FROM lineitem WHERE l_quantity BETWEEN 1 AND 10) b1,
        |  (SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 2) AS avg2,
        |     COUNT(*) AS cnt2, COUNT(DISTINCT l_partkey) AS cntd2
        |   FROM lineitem WHERE l_quantity BETWEEN 11 AND 25) b2,
        |  (SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 2) AS avg3,
        |     COUNT(*) AS cnt3, COUNT(DISTINCT l_partkey) AS cntd3
        |   FROM lineitem WHERE l_quantity BETWEEN 26 AND 40) b3,
        |  (SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 2) AS avg4,
        |     COUNT(*) AS cnt4, COUNT(DISTINCT l_partkey) AS cntd4
        |   FROM lineitem WHERE l_quantity BETWEEN 41 AND 50) b4""".stripMargin),

    // ---- q93-style: returns-adjusted net revenue — returned lines
    //      ('R') subtract instead of add, per customer. One conditional
    //      exact-decimal sum over the 3-way star; the sign flip rides the
    //      same aggregate, no second scan ----
    "tpcds_q93_returns_adjusted" -> Q.sqlSame(
      """SELECT c_name,
        |  CAST(SUM(CAST(CASE WHEN l_returnflag = 'R'
        |    THEN -(l_extendedprice * (1 - l_discount))
        |    ELSE l_extendedprice * (1 - l_discount) END AS DECIMAL(30,8))) AS DOUBLE) AS act_sales
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |GROUP BY c_name
        |ORDER BY act_sales ASC NULLS LAST, c_name ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q72-style: the triple-fact date-chained join — TPC-DS's
    //      hardest join shape (catalog_sales × inventory × warehouse with
    //      a d1/d2/d3 date-dim chain). Here the sales fact joins an
    //      inventory-analog SECOND scan of lineitem on part, restricted to
    //      a different supplier, a 30-day window after the order date, and
    //      a lower on-hand quantity. The filtered part/supplier dims
    //      broadcast; the fact-fact join shuffles on l_partkey only ----
    "tpcds_q72_inventory_chain" -> Q.sqlSame(headline = true, text =
      """SELECT p_name, s_name, year(o_orderdate) AS d_year, COUNT(*) AS cnt
        |FROM lineitem l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN lineitem inv ON inv.l_partkey = l.l_partkey
        |  AND inv.l_suppkey <> l.l_suppkey
        |  AND inv.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 30 DAY
        |  AND inv.l_quantity < l.l_quantity
        |WHERE p.p_size = 1 AND o.o_orderpriority = '1-URGENT'
        |GROUP BY p_name, s_name, year(o_orderdate)
        |ORDER BY cnt DESC NULLS LAST, p_name ASC NULLS LAST,
        |  s_name ASC NULLS LAST, d_year ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q95-style: multi-hop EXISTS over a self-joined fact — orders
    //      whose lines involve at least two distinct suppliers (the
    //      "shipped from more than one warehouse" self-join ws1/ws2) AND
    //      that appear in the returns set. Both membership probes are
    //      semi joins on the fact key; the distinct self-join pairs
    //      collapse before the probe ----
    "tpcds_q95_multi_warehouse" -> Q.sqlSame(headline = true, text =
      """WITH multi_supp AS (
        |  SELECT DISTINCT l1.l_orderkey AS okey
        |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |   AND l1.l_suppkey <> l2.l_suppkey)
        |SELECT COUNT(DISTINCT o_orderkey) AS order_count,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS total_price
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |  AND o_orderkey IN (SELECT okey FROM multi_supp)
        |  AND o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')""".stripMargin),

    // ---- q4/q74-style: the year-over-year CTE tower — per-customer
    //      (year, channel) totals screened for customers whose
    //      return-channel growth outpaces their sales-channel growth.
    //      The ORACLE keeps q4's literal shape: a totals CTE self-joined
    //      four ways (two channels × two years, q74's exact form). The
    //      Spark side does NOT run that tower: Spark (like the reference's
    //      Presto lineage) inlines CTEs, so the four legs would each
    //      rescan and re-aggregate the fact — four fact scans at 100 TB.
    //      Instead it folds the tower into ONE conditional-aggregate pass
    //      (SUM(CASE chan/year) pivot): one scan, one shuffle, identical
    //      rows — a NULL pivot cell marks a missing (chan, year) leg,
    //      exactly the rows the tower's inner joins drop. Ratios compare
    //      as DOUBLE (exact-decimal sums → bit-identical IEEE division) ----
    "tpcds_q4_growth_tower" -> Q.sql(
      spark = """WITH base AS (
        |  SELECT c_custkey, c_name, year(o_orderdate) AS yr, l_returnflag AS chan,
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8)) AS amt
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  WHERE l_returnflag IN ('N', 'R') AND year(o_orderdate) IN (1995, 1996)),
        |pv AS (
        |  SELECT c_custkey, c_name,
        |    CAST(SUM(CASE WHEN chan = 'N' AND yr = 1995 THEN amt END) AS DOUBLE) AS n1,
        |    CAST(SUM(CASE WHEN chan = 'N' AND yr = 1996 THEN amt END) AS DOUBLE) AS n2,
        |    CAST(SUM(CASE WHEN chan = 'R' AND yr = 1995 THEN amt END) AS DOUBLE) AS r1,
        |    CAST(SUM(CASE WHEN chan = 'R' AND yr = 1996 THEN amt END) AS DOUBLE) AS r2
        |  FROM base GROUP BY c_custkey, c_name)
        |SELECT c_custkey, c_name,
        |  CAST(n2 / n1 AS DOUBLE) AS sale_ratio,
        |  CAST(r2 / r1 AS DOUBLE) AS ret_ratio
        |FROM pv
        |WHERE n1 IS NOT NULL AND n2 IS NOT NULL AND r1 IS NOT NULL AND r2 IS NOT NULL
        |  AND n1 > 0 AND r1 > 0 AND r2 / r1 > n2 / n1
        |ORDER BY c_custkey ASC NULLS LAST""".stripMargin,
      duck = """WITH totals AS (
        |  SELECT c_custkey, c_name, year(o_orderdate) AS yr, l_returnflag AS chan,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS total
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  WHERE l_returnflag IN ('N', 'R') AND year(o_orderdate) IN (1995, 1996)
        |  GROUP BY c_custkey, c_name, year(o_orderdate), l_returnflag)
        |SELECT n1.c_custkey AS c_custkey, n1.c_name AS c_name,
        |  CAST(n2.total / n1.total AS DOUBLE) AS sale_ratio,
        |  CAST(r2.total / r1.total AS DOUBLE) AS ret_ratio
        |FROM totals n1 JOIN totals n2 ON n1.c_custkey = n2.c_custkey
        |JOIN totals r1 ON n1.c_custkey = r1.c_custkey
        |JOIN totals r2 ON n1.c_custkey = r2.c_custkey
        |WHERE n1.chan = 'N' AND n1.yr = 1995 AND n2.chan = 'N' AND n2.yr = 1996
        |  AND r1.chan = 'R' AND r1.yr = 1995 AND r2.chan = 'R' AND r2.yr = 1996
        |  AND n1.total > 0 AND r1.total > 0
        |  AND r2.total / r1.total > n2.total / n1.total
        |ORDER BY c_custkey ASC NULLS LAST""".stripMargin),

    // ---- q97-style: channel-overlap counts — the distinct customer
    //      sets of two "channels" FULL OUTER joined, bucketed into
    //      only-A / only-B / both. Counts cast to BIGINT on both sides ----
    "tpcds_q97_channel_overlap" -> Q.sqlSame(
      """WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
        |b AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderpriority = '5-LOW')
        |SELECT CAST(SUM(CASE WHEN a.k IS NOT NULL AND b.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS urgent_only,
        |  CAST(SUM(CASE WHEN a.k IS NULL AND b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS low_only,
        |  CAST(SUM(CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS both_channels
        |FROM a FULL OUTER JOIN b ON a.k = b.k""".stripMargin),

    // ---- q66-style: the wide month-pivot report — per (supplier, year)
    //      rows with one conditional-aggregate column per month/metric
    //      (q66 pivots 12 months × 2 metrics per warehouse). One scan,
    //      one shuffle on the GROUP BY keys; every cell is an exact
    //      decimal sum cast to DOUBLE at the end; NULL cells mark months
    //      with no shipments, as in the original ----
    "tpcds_q66_month_pivot" -> Q.sqlSame(
      """SELECT s_name, year(l_shipdate) AS d_year,
        |  CAST(SUM(CASE WHEN month(l_shipdate) = 1 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8)) END) AS DOUBLE) AS jan_rev,
        |  CAST(SUM(CASE WHEN month(l_shipdate) = 2 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8)) END) AS DOUBLE) AS feb_rev,
        |  CAST(SUM(CASE WHEN month(l_shipdate) = 3 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8)) END) AS DOUBLE) AS mar_rev,
        |  CAST(SUM(CASE WHEN month(l_shipdate) <= 6 THEN CAST(l_quantity AS DECIMAL(30,8)) END) AS DOUBLE) AS h1_qty,
        |  CAST(SUM(CASE WHEN month(l_shipdate) > 6 THEN CAST(l_quantity AS DECIMAL(30,8)) END) AS DOUBLE) AS h2_qty,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS total_rev
        |FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |WHERE year(l_shipdate) IN (1995, 1996)
        |GROUP BY s_name, year(l_shipdate)
        |HAVING SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) > 500000
        |ORDER BY s_name ASC NULLS LAST, d_year ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q21-style: the before/after balance screen — per (supplier,
    //      part) quantities split at an event date, keeping pairs whose
    //      after/before ratio stays within [2/3, 3/2] (q21's inventory
    //      balance check), then suppliers ranked by how many balanced
    //      parts they carry. Conditional exact-decimal sums; the band is
    //      CROSS-MULTIPLIED (3·after ≥ 2·before), never divided — Spark
    //      folds the literal 2.0/3.0 as DECIMAL(2,1) division (0.666667,
    //      ABOVE 2/3) while a double ratio sits at 0.6̅, so parts exactly
    //      on the bound would flip between engines ----
    "tpcds_q21_balance_screen" -> Q.sqlSame(
      """WITH sp AS (
        |  SELECT s_name, l_partkey,
        |    CAST(SUM(CASE WHEN year(l_shipdate) <= 1995 THEN CAST(l_quantity AS DECIMAL(30,8)) ELSE CAST(0 AS DECIMAL(30,8)) END) AS DOUBLE) AS qty_before,
        |    CAST(SUM(CASE WHEN year(l_shipdate) > 1995 THEN CAST(l_quantity AS DECIMAL(30,8)) ELSE CAST(0 AS DECIMAL(30,8)) END) AS DOUBLE) AS qty_after
        |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |  GROUP BY s_name, l_partkey)
        |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS balanced_parts
        |FROM sp
        |WHERE qty_before > 0 AND qty_after > 0
        |  AND 3 * qty_after >= 2 * qty_before AND 2 * qty_after <= 3 * qty_before
        |GROUP BY s_name
        |HAVING COUNT(*) >= 5
        |ORDER BY balanced_parts DESC NULLS LAST, s_name ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q54-style: the histogram-of-an-aggregate — per-customer
    //      lifetime revenue bucketed into fixed segments, then customers
    //      counted per segment (q54's revenue-band report). The bucket
    //      floor runs on a DOUBLE cast of the exact decimal total so the
    //      division is bit-identical cross-engine ----
    "tpcds_q54_revenue_segments" -> Q.sqlSame(
      """WITH rev AS (
        |  SELECT c_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) AS r
        |  FROM orders JOIN customer ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |SELECT CAST(FLOOR(r / 500000) AS BIGINT) AS segment,
        |  CAST(COUNT(*) AS BIGINT) AS num_customers
        |FROM rev
        |GROUP BY FLOOR(r / 500000)
        |ORDER BY segment ASC NULLS LAST""".stripMargin),

    // ---- q75-style: the prior-period delta — per-(brand, year) totals
    //      self-joined onto the SAME aggregate at year-1, keeping brands
    //      whose quantity declined. One aggregate, one self-join keyed on
    //      (brand, year±1); deltas computed on exact decimals and cast to
    //      DOUBLE at the end ----
    "tpcds_q75_brand_decline" -> Q.sqlSame(
      """WITH yearly AS (
        |  SELECT p_brand, year(o_orderdate) AS yr,
        |    SUM(CAST(l_quantity AS DECIMAL(30,8))) AS qty,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS rev
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  GROUP BY p_brand, year(o_orderdate))
        |SELECT c.p_brand AS p_brand, c.yr AS d_year,
        |  CAST(p.qty AS DOUBLE) AS prev_qty, CAST(c.qty AS DOUBLE) AS curr_qty,
        |  CAST(c.rev - p.rev AS DOUBLE) AS rev_delta
        |FROM yearly c JOIN yearly p ON c.p_brand = p.p_brand AND c.yr = p.yr + 1
        |WHERE c.qty < p.qty
        |ORDER BY rev_delta ASC NULLS LAST, p_brand ASC NULLS LAST, d_year ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q38/q87-style: multi-channel set algebra over customer sets —
    //      the count of customers present in ALL three channels
    //      (INTERSECT chain) and present in one but NOT another (EXCEPT).
    //      Spark lowers both to semi/anti joins over the deduped channel
    //      sets; nothing materializes beyond the distinct keys ----
    "tpcds_q38_channel_intersect" -> Q.sqlSame(
      """SELECT CAST(COUNT(*) AS BIGINT) AS hot_customers FROM (
        |  SELECT c_custkey, c_name FROM customer JOIN orders ON c_custkey = o_custkey
        |  WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT
        |  SELECT c_custkey, c_name FROM customer JOIN orders ON c_custkey = o_custkey
        |  WHERE o_orderpriority = '2-HIGH'
        |  INTERSECT
        |  SELECT c_custkey, c_name FROM customer JOIN orders ON c_custkey = o_custkey
        |  WHERE o_orderpriority = '3-MEDIUM') t""".stripMargin),

    "tpcds_q87_channel_except" -> Q.sqlSame(
      """SELECT CAST(COUNT(*) AS BIGINT) AS exclusive_customers FROM (
        |  SELECT c_custkey, c_name FROM customer JOIN orders ON c_custkey = o_custkey
        |  WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT
        |  SELECT c_custkey, c_name FROM customer JOIN orders ON c_custkey = o_custkey
        |  WHERE o_orderpriority = '5-LOW') t""".stripMargin),

    // ---- q77/q80-style: the channel report — per-channel sales and
    //      returns aggregated separately, FULL OUTER joined on
    //      (channel, id) so a supplier with only returns still reports,
    //      then re-aggregated under ROLLUP(channel) for the all-channel
    //      total row. Decimal sums stay exact until the final DOUBLE cast ----
    "tpcds_q77_channel_report" -> Q.sqlSame(
      """WITH s AS (
        |  SELECT o_orderpriority AS channel, l_suppkey AS id,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS sales
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE l_returnflag <> 'R'
        |  GROUP BY o_orderpriority, l_suppkey),
        |r AS (
        |  SELECT o_orderpriority AS channel, l_suppkey AS id,
        |    SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS returns
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY o_orderpriority, l_suppkey),
        |joined AS (
        |  SELECT COALESCE(s.channel, r.channel) AS channel,
        |    COALESCE(sales, 0) AS sales, COALESCE(returns, 0) AS returns
        |  FROM s FULL OUTER JOIN r ON s.channel = r.channel AND s.id = r.id)
        |SELECT channel,
        |  ROUND(CAST(SUM(sales) AS DOUBLE), 2) AS sales,
        |  ROUND(CAST(SUM(returns) AS DOUBLE), 2) AS returns,
        |  ROUND(CAST(SUM(sales - returns) AS DOUBLE), 2) AS profit
        |FROM joined
        |GROUP BY ROLLUP(channel)
        |ORDER BY channel ASC NULLS FIRST""".stripMargin),

    // ---- q9-style: the scalar-subquery CASE tower — fifteen scalar
    //      subqueries (3 per quantity bucket) collapsing to one row; the
    //      bucket counts steer which aggregate each CASE publishes, so
    //      both branches are live (buckets 1/3 take the THEN arm on this
    //      data, 2/4/5 the ELSE). Catalyst plans each scalar subquery as
    //      its own tiny aggregate and the outer row assembles from
    //      EnforceSingleRow results — q9's exact physical shape ----
    "tpcds_q9_bucket_cases" -> Q.sqlSame(
      """SELECT
        |  ROUND(CASE WHEN (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 1 AND 10) > 12000
        |    THEN (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) FROM lineitem WHERE l_quantity BETWEEN 1 AND 10)
        |    ELSE (SELECT CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) * 1000 FROM lineitem WHERE l_quantity BETWEEN 1 AND 10) END, 2) AS bucket1,
        |  ROUND(CASE WHEN (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 11 AND 20) > 12000
        |    THEN (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) FROM lineitem WHERE l_quantity BETWEEN 11 AND 20)
        |    ELSE (SELECT CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) * 1000 FROM lineitem WHERE l_quantity BETWEEN 11 AND 20) END, 2) AS bucket2,
        |  ROUND(CASE WHEN (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 21 AND 30) > 12000
        |    THEN (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) FROM lineitem WHERE l_quantity BETWEEN 21 AND 30)
        |    ELSE (SELECT CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) * 1000 FROM lineitem WHERE l_quantity BETWEEN 21 AND 30) END, 2) AS bucket3,
        |  ROUND(CASE WHEN (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 31 AND 40) > 12000
        |    THEN (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) FROM lineitem WHERE l_quantity BETWEEN 31 AND 40)
        |    ELSE (SELECT CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) * 1000 FROM lineitem WHERE l_quantity BETWEEN 31 AND 40) END, 2) AS bucket4,
        |  ROUND(CASE WHEN (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 41 AND 50) > 12000
        |    THEN (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) FROM lineitem WHERE l_quantity BETWEEN 41 AND 50)
        |    ELSE (SELECT CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) * 1000 FROM lineitem WHERE l_quantity BETWEEN 41 AND 50) END, 2) AS bucket5""".stripMargin),

    // ---- q99-style: the ship-lag bucket matrix — conditional counts of
    //      days-between buckets per priority class. The only dialect
    //      split in this family: Spark's datediff(end, start) vs DuckDB's
    //      date_diff('day', start, end). Counts cast to BIGINT on both
    //      sides (DuckDB SUM(int) widens to HUGEINT → float64) ----
    "tpcds_q99_ship_lag_buckets" -> Q.sql(
      spark = """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
        |  CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate) > 30 AND datediff(l_shipdate, o_orderdate) <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
        |  CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate) > 60 AND datediff(l_shipdate, o_orderdate) <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
        |  CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate) > 90 THEN 1 ELSE 0 END) AS BIGINT) AS dmore
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC NULLS LAST""".stripMargin,
      duck = """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
        |  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 30 AND date_diff('day', o_orderdate, l_shipdate) <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
        |  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60 AND date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
        |  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90 THEN 1 ELSE 0 END) AS BIGINT) AS dmore
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC NULLS LAST""".stripMargin),

    // ---- q39-style: the volatility screen — per-(part, month) demand
    //      aggregated, then parts whose coefficient of variation across
    //      months exceeds 1. The stddev goes through the agg_statistics
    //      closed form (exact decimal moment sums → one deterministic
    //      double expression) so cross-engine aggregation order cannot
    //      perturb the screen at its boundary ----
    "tpcds_q39_demand_volatility" -> Q.sqlSame(
      """WITH inv AS (
        |  SELECT l_partkey, month(l_shipdate) AS mth,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS qty
        |  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
        |  GROUP BY l_partkey, month(l_shipdate)),
        |stats AS (
        |  SELECT l_partkey,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(qty AS DECIMAL(30,8))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(qty * qty AS DECIMAL(38,8))) AS DOUBLE) AS sxx
        |  FROM inv GROUP BY l_partkey)
        |SELECT l_partkey, ROUND(sx / n, 4) AS mean,
        |  ROUND(SQRT((sxx - sx * sx / n) / (n - 1)) / (sx / n), 4) AS cov
        |FROM stats
        |WHERE n >= 4 AND sx > 0 AND SQRT((sxx - sx * sx / n) / (n - 1)) / (sx / n) > 1.0
        |ORDER BY cov DESC NULLS LAST, l_partkey ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q44-style: the best/worst asymmetric rank join — items ranked
    //      by revenue ascending AND descending in one pass over the
    //      aggregate, the two rankings matched rank-to-rank so row k pairs
    //      the k-th best with the k-th worst (q44's ascending/descending
    //      subquery pair). Ties broken by part key so RANK is a total
    //      order and the join is 1:1 ----
    "tpcds_q44_best_worst" -> Q.sqlSame(
      """WITH perf AS (SELECT l_partkey AS pk,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS rev
        |  FROM lineitem GROUP BY l_partkey),
        |ranked AS (SELECT pk, rev,
        |    RANK() OVER (ORDER BY rev ASC, pk ASC) AS rnk_a,
        |    RANK() OVER (ORDER BY rev DESC, pk ASC) AS rnk_d FROM perf)
        |SELECT w.rnk_a AS rnk, pb.p_name AS best_name, pw.p_name AS worst_name,
        |  ROUND(b.rev, 2) AS best_rev, ROUND(w.rev, 2) AS worst_rev
        |FROM ranked w JOIN ranked b ON w.rnk_a = b.rnk_d AND w.rnk_a <= 10
        |JOIN part pb ON pb.p_partkey = b.pk
        |JOIN part pw ON pw.p_partkey = w.pk
        |ORDER BY rnk ASC NULLS LAST""".stripMargin),

    // ---- q92/q32-style: the excess-discount screen — lineitems whose
    //      discount exceeds 1.3× the average discount for the SAME part
    //      over the same window, summed. The correlated scalar aggregate
    //      decorrelates to a per-part aggregate join; the 1.3× band is
    //      cross-multiplied (10·x > 13·avg) so no decimal literal ever
    //      divides (the q21 constant-folding lesson), and the average is
    //      derived from the exact decimal sum so aggregation order cannot
    //      move the boundary ----
    "tpcds_q92_excess_discount" -> Q.sqlSame(
      """SELECT ROUND(CAST(SUM(CAST(w.l_extendedprice AS DECIMAL(30,8))) AS DOUBLE), 2) AS excess_revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem w JOIN part ON p_partkey = w.l_partkey
        |WHERE p_size <= 15
        |  AND w.l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
        |  AND 10 * w.l_discount > 13 * (
        |    SELECT CAST(SUM(CAST(l2.l_discount AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*)
        |    FROM lineitem l2
        |    WHERE l2.l_partkey = w.l_partkey
        |      AND l2.l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1996-03-31')""".stripMargin),

    // ---- q16/q94-style: the exclusive-ship screen — priority orders
    //      whose lineitems involve at least two distinct suppliers (EXISTS
    //      over a self-joined fact) and which had no returned item (NOT
    //      EXISTS), counted with their total price. The q95 multi-hop
    //      EXISTS plus q94's NOT-EXISTS exclusion in one shape: Catalyst
    //      must lower the pair to a semi join AND an anti join against the
    //      same fact ----
    "tpcds_q94_exclusive_ship" -> Q.sqlSame(
      """SELECT CAST(COUNT(*) AS BIGINT) AS order_cnt,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE), 2) AS total_price
        |FROM orders o
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l1 JOIN lineitem l2
        |      ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey <> l2.l_suppkey
        |    WHERE l1.l_orderkey = o.o_orderkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem lr
        |    WHERE lr.l_orderkey = o.o_orderkey AND lr.l_returnflag = 'R')""".stripMargin),

    // ---- q5/q80-style: the channel sales+returns rollup report — each
    //      row of the fact contributes EITHER a sales row or a returns row
    //      to a UNION ALL, per-channel per-nation aggregates, then a
    //      GROUP BY ROLLUP (channel, id) grand-total report (reference
    //      q5.sql's ssr/csr/wsr CTEs; channels here are order-priority
    //      bands since the driver schema has one fact table).
    //      The money sums ROUND to 2 dp before the final DOUBLE cast:
    //      the rollup grand total reaches 19 significant digits at
    //      sf0.1 (1.1e10 with 8 decimals), past DOUBLE's 17, and the
    //      two engines' wide-decimal→double conversions can then differ
    //      in the last ulp; a 13-digit cent-rounded value converts
    //      identically everywhere. ----
    "tpcds_q5_channel_rollup" -> Q.sql(
      spark =
      // Spark side folds the two complementary UNION ALL arms (returnflag
      // <> 'R' vs = 'R' — exhaustive over non-null flags) into ONE pass
      // with CASE-routed measures: the row multisets are IDENTICAL (each
      // source row lands in exactly one arm with the other arm's measures
      // already 0 there), so every downstream aggregate is unchanged while
      // the lineitem⋈orders⋈supplier join runs once instead of twice
      // (guide §2.4 — the fact side never re-scans). The IS NOT NULL guard
      // makes the fold exact even for a null returnflag (both union arms
      // drop such rows). DuckDB keeps the two-arm form.
      """WITH salesreturns AS (
        |  SELECT o_orderpriority AS pri, s_nationkey AS nk,
        |    CASE WHEN l_returnflag <> 'R' THEN l_extendedprice * (1 - l_discount)
        |         ELSE CAST(0 AS DOUBLE) END AS sales_price,
        |    CASE WHEN l_returnflag = 'R' THEN l_extendedprice
        |         ELSE CAST(0 AS DOUBLE) END AS return_amt,
        |    CASE WHEN l_returnflag <> 'R' THEN l_extendedprice * (1 - l_discount) - 100.0 * l_quantity
        |         ELSE CAST(0 AS DOUBLE) END AS profit_amt,
        |    CASE WHEN l_returnflag = 'R' THEN 100.0 * l_quantity - l_extendedprice * (1 - l_discount)
        |         ELSE CAST(0 AS DOUBLE) END AS net_loss
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  WHERE l_returnflag IS NOT NULL),
        |chan AS (
        |  SELECT CASE WHEN pri IN ('1-URGENT', '2-HIGH') THEN 'express channel'
        |              WHEN pri = '3-MEDIUM' THEN 'standard channel'
        |              ELSE 'economy channel' END AS channel,
        |    n_name AS id,
        |    CAST(ROUND(SUM(CAST(sales_price AS DECIMAL(30,8))), 2) AS DOUBLE) AS sales,
        |    CAST(ROUND(SUM(CAST(return_amt AS DECIMAL(30,8))), 2) AS DOUBLE) AS returns_amt,
        |    CAST(ROUND(SUM(CAST(profit_amt - net_loss AS DECIMAL(30,8))), 2) AS DOUBLE) AS profit
        |  FROM salesreturns JOIN nation ON n_nationkey = nk
        |  GROUP BY CASE WHEN pri IN ('1-URGENT', '2-HIGH') THEN 'express channel'
        |                WHEN pri = '3-MEDIUM' THEN 'standard channel'
        |                ELSE 'economy channel' END, n_name)
        |SELECT channel, id,
        |  CAST(ROUND(SUM(CAST(sales AS DECIMAL(30,8))), 2) AS DOUBLE) AS sales,
        |  CAST(ROUND(SUM(CAST(returns_amt AS DECIMAL(30,8))), 2) AS DOUBLE) AS returns_amt,
        |  CAST(ROUND(SUM(CAST(profit AS DECIMAL(30,8))), 2) AS DOUBLE) AS profit
        |FROM chan
        |GROUP BY ROLLUP (channel, id)
        |ORDER BY channel ASC NULLS LAST, id ASC NULLS LAST
        |LIMIT 100""".stripMargin,
      duck =
      """WITH salesreturns AS (
        |  SELECT o_orderpriority AS pri, s_nationkey AS nk,
        |    l_extendedprice * (1 - l_discount) AS sales_price,
        |    CAST(0 AS DOUBLE) AS return_amt,
        |    l_extendedprice * (1 - l_discount) - 100.0 * l_quantity AS profit_amt,
        |    CAST(0 AS DOUBLE) AS net_loss
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  WHERE l_returnflag <> 'R'
        |  UNION ALL
        |  SELECT o_orderpriority, s_nationkey,
        |    CAST(0 AS DOUBLE), l_extendedprice,
        |    CAST(0 AS DOUBLE), 100.0 * l_quantity - l_extendedprice * (1 - l_discount)
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  WHERE l_returnflag = 'R'),
        |chan AS (
        |  SELECT CASE WHEN pri IN ('1-URGENT', '2-HIGH') THEN 'express channel'
        |              WHEN pri = '3-MEDIUM' THEN 'standard channel'
        |              ELSE 'economy channel' END AS channel,
        |    n_name AS id,
        |    CAST(ROUND(SUM(CAST(sales_price AS DECIMAL(30,8))), 2) AS DOUBLE) AS sales,
        |    CAST(ROUND(SUM(CAST(return_amt AS DECIMAL(30,8))), 2) AS DOUBLE) AS returns_amt,
        |    CAST(ROUND(SUM(CAST(profit_amt - net_loss AS DECIMAL(30,8))), 2) AS DOUBLE) AS profit
        |  FROM salesreturns JOIN nation ON n_nationkey = nk
        |  GROUP BY CASE WHEN pri IN ('1-URGENT', '2-HIGH') THEN 'express channel'
        |                WHEN pri = '3-MEDIUM' THEN 'standard channel'
        |                ELSE 'economy channel' END, n_name)
        |SELECT channel, id,
        |  CAST(ROUND(SUM(CAST(sales AS DECIMAL(30,8))), 2) AS DOUBLE) AS sales,
        |  CAST(ROUND(SUM(CAST(returns_amt AS DECIMAL(30,8))), 2) AS DOUBLE) AS returns_amt,
        |  CAST(ROUND(SUM(CAST(profit AS DECIMAL(30,8))), 2) AS DOUBLE) AS profit
        |FROM chan
        |GROUP BY ROLLUP (channel, id)
        |ORDER BY channel ASC NULLS LAST, id ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q80-style: the same channel report shape with the promotional
    //      anti-screen — parts with a PROMO type are excluded via NOT
    //      EXISTS (q80's p_promo_sk/p_channel_tv anti-condition), a
    //      bounded date window, brand as the report id ----
    "tpcds_q80_channel_promo_report" -> Q.sql(
      spark =
      // Same complementary-arm fold as q5 (see there): one pass over
      // lineitem⋈orders⋈part with CASE-routed measures replaces the two
      // UNION ALL scans; identical row multiset, IS NOT NULL guard for
      // exactness under a null returnflag. DuckDB keeps the two-arm form.
      """WITH salesreturns AS (
        |  SELECT o_orderpriority AS pri, p_brand AS brand,
        |    CASE WHEN l_returnflag <> 'R' THEN l_extendedprice * (1 - l_discount)
        |         ELSE CAST(0 AS DOUBLE) END AS sales_price,
        |    CASE WHEN l_returnflag = 'R' THEN l_extendedprice
        |         ELSE CAST(0 AS DOUBLE) END AS return_amt,
        |    CASE WHEN l_returnflag <> 'R' THEN l_extendedprice * (1 - l_discount) - 100.0 * l_quantity
        |         ELSE CAST(0 AS DOUBLE) END AS profit_amt,
        |    CASE WHEN l_returnflag = 'R' THEN 100.0 * l_quantity - l_extendedprice * (1 - l_discount)
        |         ELSE CAST(0 AS DOUBLE) END AS net_loss
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE l_returnflag IS NOT NULL
        |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
        |    AND NOT EXISTS (SELECT 1 FROM part p2
        |      WHERE p2.p_partkey = l_partkey AND p2.p_type LIKE 'PROMO%')),
        |chan AS (
        |  SELECT CASE WHEN pri IN ('1-URGENT', '2-HIGH') THEN 'express channel'
        |              WHEN pri = '3-MEDIUM' THEN 'standard channel'
        |              ELSE 'economy channel' END AS channel,
        |    brand AS id,
        |    CAST(ROUND(SUM(CAST(sales_price AS DECIMAL(30,8))), 2) AS DOUBLE) AS sales,
        |    CAST(ROUND(SUM(CAST(return_amt AS DECIMAL(30,8))), 2) AS DOUBLE) AS returns_amt,
        |    CAST(ROUND(SUM(CAST(profit_amt - net_loss AS DECIMAL(30,8))), 2) AS DOUBLE) AS profit
        |  FROM salesreturns
        |  GROUP BY CASE WHEN pri IN ('1-URGENT', '2-HIGH') THEN 'express channel'
        |                WHEN pri = '3-MEDIUM' THEN 'standard channel'
        |                ELSE 'economy channel' END, brand)
        |SELECT channel, id,
        |  CAST(ROUND(SUM(CAST(sales AS DECIMAL(30,8))), 2) AS DOUBLE) AS sales,
        |  CAST(ROUND(SUM(CAST(returns_amt AS DECIMAL(30,8))), 2) AS DOUBLE) AS returns_amt,
        |  CAST(ROUND(SUM(CAST(profit AS DECIMAL(30,8))), 2) AS DOUBLE) AS profit
        |FROM chan
        |GROUP BY ROLLUP (channel, id)
        |ORDER BY channel ASC NULLS LAST, id ASC NULLS LAST
        |LIMIT 100""".stripMargin,
      duck =
      """WITH salesreturns AS (
        |  SELECT o_orderpriority AS pri, p_brand AS brand,
        |    l_extendedprice * (1 - l_discount) AS sales_price,
        |    CAST(0 AS DOUBLE) AS return_amt,
        |    l_extendedprice * (1 - l_discount) - 100.0 * l_quantity AS profit_amt,
        |    CAST(0 AS DOUBLE) AS net_loss
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE l_returnflag <> 'R'
        |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
        |    AND NOT EXISTS (SELECT 1 FROM part p2
        |      WHERE p2.p_partkey = l_partkey AND p2.p_type LIKE 'PROMO%')
        |  UNION ALL
        |  SELECT o_orderpriority, p_brand,
        |    CAST(0 AS DOUBLE), l_extendedprice,
        |    CAST(0 AS DOUBLE), 100.0 * l_quantity - l_extendedprice * (1 - l_discount)
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
        |    AND NOT EXISTS (SELECT 1 FROM part p2
        |      WHERE p2.p_partkey = l_partkey AND p2.p_type LIKE 'PROMO%')),
        |chan AS (
        |  SELECT CASE WHEN pri IN ('1-URGENT', '2-HIGH') THEN 'express channel'
        |              WHEN pri = '3-MEDIUM' THEN 'standard channel'
        |              ELSE 'economy channel' END AS channel,
        |    brand AS id,
        |    CAST(ROUND(SUM(CAST(sales_price AS DECIMAL(30,8))), 2) AS DOUBLE) AS sales,
        |    CAST(ROUND(SUM(CAST(return_amt AS DECIMAL(30,8))), 2) AS DOUBLE) AS returns_amt,
        |    CAST(ROUND(SUM(CAST(profit_amt - net_loss AS DECIMAL(30,8))), 2) AS DOUBLE) AS profit
        |  FROM salesreturns
        |  GROUP BY CASE WHEN pri IN ('1-URGENT', '2-HIGH') THEN 'express channel'
        |                WHEN pri = '3-MEDIUM' THEN 'standard channel'
        |                ELSE 'economy channel' END, brand)
        |SELECT channel, id,
        |  CAST(ROUND(SUM(CAST(sales AS DECIMAL(30,8))), 2) AS DOUBLE) AS sales,
        |  CAST(ROUND(SUM(CAST(returns_amt AS DECIMAL(30,8))), 2) AS DOUBLE) AS returns_amt,
        |  CAST(ROUND(SUM(CAST(profit AS DECIMAL(30,8))), 2) AS DOUBLE) AS profit
        |FROM chan
        |GROUP BY ROLLUP (channel, id)
        |ORDER BY channel ASC NULLS LAST, id ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q13-style: single-row multi-OR demographic band select — three
    //      (segment x order-total x quantity) bands OR-ed together, times
    //      three (nation-set x price) bands, averaged. Catalyst must push
    //      the whole disjunction into one scan, not a union ----
    "tpcds_q13_demographic_bands" -> Q.sqlSame(
      """SELECT
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
        |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |WHERE year(o_orderdate) = 1995
        |  AND ((c_mktsegment = 'BUILDING' AND o_totalprice BETWEEN 100000 AND 200000
        |        AND l_quantity BETWEEN 1 AND 25)
        |    OR (c_mktsegment = 'AUTOMOBILE' AND o_totalprice BETWEEN 50000 AND 150000
        |        AND l_quantity BETWEEN 26 AND 50)
        |    OR (c_mktsegment = 'MACHINERY' AND o_totalprice BETWEEN 150000 AND 300000
        |        AND l_quantity BETWEEN 10 AND 40))
        |  AND ((n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        |        AND l_extendedprice BETWEEN 10000 AND 40000)
        |    OR (n_name IN ('NATION_4', 'NATION_5', 'NATION_6')
        |        AND l_extendedprice BETWEEN 20000 AND 60000)
        |    OR (n_name IN ('NATION_7', 'NATION_8', 'NATION_9')
        |        AND l_extendedprice BETWEEN 5000 AND 50000))""".stripMargin),

    // ---- q48-style: the companion band select summing quantity under
    //      (priority x discount x order-total) OR-bands crossed with
    //      (nation-set x quantity) bands ----
    "tpcds_q48_band_quantity" -> Q.sqlSame(
      """SELECT
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS BIGINT) AS qty_sum
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE year(o_orderdate) = 1996
        |  AND ((o_orderpriority = '1-URGENT' AND l_discount BETWEEN 0.00 AND 0.04
        |        AND o_totalprice BETWEEN 50000 AND 150000)
        |    OR (o_orderpriority = '3-MEDIUM' AND l_discount BETWEEN 0.03 AND 0.07
        |        AND o_totalprice BETWEEN 100000 AND 250000)
        |    OR (o_orderpriority = '5-LOW' AND l_discount BETWEEN 0.06 AND 0.10
        |        AND o_totalprice BETWEEN 150000 AND 400000))
        |  AND ((n_name IN ('NATION_1', 'NATION_2', 'NATION_3') AND l_quantity BETWEEN 1 AND 20)
        |    OR (n_name IN ('NATION_4', 'NATION_5', 'NATION_6') AND l_quantity BETWEEN 15 AND 35)
        |    OR (n_name IN ('NATION_7', 'NATION_8', 'NATION_9') AND l_quantity BETWEEN 30 AND 50))""".stripMargin),

    // ---- q17-style: sale -> return -> repurchase 3-leg fact chain per
    //      customer (q17's ss->sr->cs quantity funnel; legs keyed on
    //      customer because the synthetic (cust, part) multiplicity is
    //      ~1), with count/avg/stddev per leg derived from exact decimal
    //      sums so distributed partial-agg order cannot move a bit ----
    "tpcds_q17_quantity_chain_stats" -> Q.sqlSame(
      """WITH sale AS (
        |  SELECT o_custkey AS cust, l_partkey AS part, l_quantity AS qty, o_orderdate AS d
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE l_returnflag = 'A' AND year(o_orderdate) = 1995),
        |ret AS (
        |  SELECT o_custkey AS cust, l_partkey AS part, l_quantity AS qty, o_orderdate AS d
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE l_returnflag = 'R' AND year(o_orderdate) IN (1995, 1996)),
        |rep AS (
        |  SELECT o_custkey AS cust, l_partkey AS part, l_quantity AS qty, o_orderdate AS d
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE l_returnflag = 'N' AND year(o_orderdate) IN (1995, 1996, 1997))
        |SELECT p_brand,
        |  CAST(n AS BIGINT) AS sale_cnt,
        |  ROUND(s_sx / n, 6) AS sale_avg,
        |  ROUND(SQRT((s_sxx - s_sx * s_sx / n) / (n - 1)), 6) AS sale_stdev,
        |  ROUND(r_sx / n, 6) AS ret_avg,
        |  ROUND(SQRT((r_sxx - r_sx * r_sx / n) / (n - 1)), 6) AS ret_stdev,
        |  ROUND(c_sx / n, 6) AS rep_avg,
        |  ROUND(SQRT((c_sxx - c_sx * c_sx / n) / (n - 1)), 6) AS rep_stdev
        |FROM (
        |  SELECT p_brand,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(s.qty AS DECIMAL(30,8))) AS DOUBLE) AS s_sx,
        |    CAST(SUM(CAST(s.qty * s.qty AS DECIMAL(30,8))) AS DOUBLE) AS s_sxx,
        |    CAST(SUM(CAST(r.qty AS DECIMAL(30,8))) AS DOUBLE) AS r_sx,
        |    CAST(SUM(CAST(r.qty * r.qty AS DECIMAL(30,8))) AS DOUBLE) AS r_sxx,
        |    CAST(SUM(CAST(c.qty AS DECIMAL(30,8))) AS DOUBLE) AS c_sx,
        |    CAST(SUM(CAST(c.qty * c.qty AS DECIMAL(30,8))) AS DOUBLE) AS c_sxx
        |  FROM sale s
        |  JOIN ret r ON r.cust = s.cust AND r.d >= s.d
        |  JOIN rep c ON c.cust = r.cust AND c.d >= r.d
        |  JOIN part ON p_partkey = s.part
        |  GROUP BY p_brand) t
        |WHERE n > 1
        |ORDER BY p_brand ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q29-style: the sum-variant of the 3-leg chain — quantity
    //      totals per brand and sale month (q29's monthly rollup of the
    //      same ss->sr->cs join tree) ----
    "tpcds_q29_repeat_quantity_sums" -> Q.sqlSame(
      """WITH sale AS (
        |  SELECT o_custkey AS cust, l_partkey AS part, l_quantity AS qty, o_orderdate AS d
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE l_returnflag = 'A' AND year(o_orderdate) = 1995),
        |ret AS (
        |  SELECT o_custkey AS cust, l_partkey AS part, l_quantity AS qty, o_orderdate AS d
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE l_returnflag = 'R' AND year(o_orderdate) IN (1995, 1996)),
        |rep AS (
        |  SELECT o_custkey AS cust, l_partkey AS part, l_quantity AS qty, o_orderdate AS d
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE l_returnflag = 'N' AND year(o_orderdate) IN (1995, 1996, 1997))
        |SELECT p_brand, month(s.d) AS sale_month,
        |  CAST(CAST(SUM(CAST(s.qty AS DECIMAL(30,8))) AS DOUBLE) AS BIGINT) AS sale_qty,
        |  CAST(CAST(SUM(CAST(r.qty AS DECIMAL(30,8))) AS DOUBLE) AS BIGINT) AS ret_qty,
        |  CAST(CAST(SUM(CAST(c.qty AS DECIMAL(30,8))) AS DOUBLE) AS BIGINT) AS rep_qty
        |FROM sale s
        |JOIN ret r ON r.cust = s.cust AND r.d >= s.d
        |JOIN rep c ON c.cust = r.cust AND c.d >= r.d
        |JOIN part ON p_partkey = s.part
        |GROUP BY p_brand, month(s.d)
        |ORDER BY p_brand ASC NULLS LAST, sale_month ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q46-style: "city-pair" customer movement — per-order aggregate
    //      keyed by the supplier nation (bought city), joined back to the
    //      customer's home nation, keeping only cross-nation orders
    //      (q46's ca_city <> bought_city screen on weekend sales) ----
    "tpcds_q46_nation_pair_movement" -> Q.sqlSame(
      """SELECT c_name, cn.n_name AS home_nation, bought_nation, ok AS o_orderkey, amt, profit
        |FROM (
        |  SELECT l_orderkey AS ok, o_custkey AS cust, sn.n_name AS bought_nation,
        |    CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,8))) AS DOUBLE) AS amt,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) - 100.0 * l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS profit
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation sn ON sn.n_nationkey = s_nationkey
        |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    AND day(o_orderdate) % 7 IN (0, 6)
        |    AND year(o_orderdate) IN (1996, 1997, 1998)
        |  GROUP BY l_orderkey, o_custkey, sn.n_name) dn
        |JOIN customer ON c_custkey = cust
        |JOIN nation cn ON cn.n_nationkey = c_nationkey
        |WHERE cn.n_name <> bought_nation
        |ORDER BY c_name ASC NULLS LAST, home_nation ASC NULLS LAST,
        |  bought_nation ASC NULLS LAST, o_orderkey ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q68-style: the companion movement report with the extended
    //      measure list (ext sales + ext tax) and an account-balance
    //      screen on the outer customer join ----
    "tpcds_q68_nation_pair_extended" -> Q.sqlSame(
      """SELECT c_name, cn.n_name AS home_nation, bought_nation, ok AS o_orderkey,
        |  ext_sales, ext_tax
        |FROM (
        |  SELECT l_orderkey AS ok, o_custkey AS cust, sn.n_name AS bought_nation,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) AS ext_sales,
        |    CAST(SUM(CAST(l_extendedprice * l_tax AS DECIMAL(30,8))) AS DOUBLE) AS ext_tax
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation sn ON sn.n_nationkey = s_nationkey
        |  WHERE o_orderpriority = '5-LOW'
        |    AND o_totalprice BETWEEN 150000 AND 300000
        |    AND year(o_orderdate) = 1995
        |  GROUP BY l_orderkey, o_custkey, sn.n_name) dn
        |JOIN customer ON c_custkey = cust
        |JOIN nation cn ON cn.n_nationkey = c_nationkey
        |WHERE cn.n_name <> bought_nation AND c_acctbal > 1000
        |ORDER BY c_name ASC NULLS LAST, home_nation ASC NULLS LAST,
        |  bought_nation ASC NULLS LAST, o_orderkey ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q10-style: the demographic EXISTS tower — customers in a
    //      nation set who bought in the primary channel AND in at least
    //      one of two secondary channels (EXISTS AND (EXISTS OR EXISTS),
    //      Catalyst lowers the disjunctive pair to ExistenceJoins), with
    //      the repeated count(*) column list of the reference ----
    "tpcds_q10_exists_tower" -> Q.sqlSame(
      """SELECT c_mktsegment, n_name,
        |  COUNT(*) AS cnt1,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS bal_sum,
        |  COUNT(*) AS cnt2,
        |  ROUND(CAST(MIN(c_acctbal) AS DOUBLE), 2) AS min_bal,
        |  COUNT(*) AS cnt3
        |FROM customer JOIN nation ON n_nationkey = c_nationkey
        |WHERE n_name IN ('NATION_10', 'NATION_11', 'NATION_12', 'NATION_13', 'NATION_14')
        |  AND EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        |      AND year(o_orderdate) = 1996)
        |  AND (EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '2-HIGH'
        |      AND year(o_orderdate) = 1996)
        |    OR EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '5-LOW'
        |      AND year(o_orderdate) = 1996))
        |GROUP BY c_mktsegment, n_name
        |ORDER BY c_mktsegment ASC NULLS LAST, n_name ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q35-style: the stats variant of the EXISTS tower — per
    //      (nation, segment) count/max/sum/avg of balances for customers
    //      active in 1995 with activity in either half-year (EXISTS OR
    //      EXISTS over the fact behind an orders join) ----
    "tpcds_q35_exists_stats" -> Q.sqlSame(
      """SELECT n_name, c_mktsegment,
        |  COUNT(*) AS cnt,
        |  ROUND(CAST(MAX(c_acctbal) AS DOUBLE), 2) AS max_bal,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) AS sum_bal,
        |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS avg_bal
        |FROM customer JOIN nation ON n_nationkey = c_nationkey
        |WHERE EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
        |  AND (EXISTS (SELECT 1 FROM orders o JOIN lineitem ON l_orderkey = o.o_orderkey
        |    WHERE o.o_custkey = c_custkey AND year(l_shipdate) = 1995 AND month(l_shipdate) <= 6)
        |    OR EXISTS (SELECT 1 FROM orders o JOIN lineitem ON l_orderkey = o.o_orderkey
        |    WHERE o.o_custkey = c_custkey AND year(l_shipdate) = 1995 AND month(l_shipdate) > 6))
        |GROUP BY n_name, c_mktsegment
        |ORDER BY n_name ASC NULLS LAST, c_mktsegment ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q24-style: dense returned-sales join where the supplier and
    //      customer share a nation (q24's birth-country = address-country
    //      screen), aggregated into a netpaid CTE that the outer query
    //      both re-aggregates AND references in a scalar-subquery HAVING
    //      bar (paid > 0.05 * avg over the whole CTE) ----
    "tpcds_q24_netpaid_scalar_having" -> Q.sqlSame(
      """WITH ssales AS (
        |  SELECT c_name, s_name, sn.n_name AS nat, p_brand, p_size,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS netpaid
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN nation sn ON sn.n_nationkey = s_nationkey
        |  WHERE l_returnflag = 'R' AND c_nationkey = s_nationkey
        |  GROUP BY c_name, s_name, sn.n_name, p_brand, p_size)
        |SELECT c_name, s_name,
        |  CAST(SUM(CAST(netpaid AS DECIMAL(30,8))) AS DOUBLE) AS paid
        |FROM ssales
        |WHERE p_brand LIKE 'Brand#3%'
        |GROUP BY c_name, s_name
        |HAVING CAST(SUM(CAST(netpaid AS DECIMAL(30,8))) AS DOUBLE) > (
        |  SELECT 0.05 * CAST(SUM(CAST(netpaid AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) FROM ssales)
        |ORDER BY c_name ASC NULLS LAST, s_name ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q6-style: customers buying items priced above their item
    //      category's average — a correlated scalar subquery per p_type
    //      (q6's i_current_price > 1.2 * avg-per-category), counted per
    //      nation with a HAVING floor. The factor is 1.005 because the
    //      synthetic retailprice spread is SF-dependent and narrow ----
    "tpcds_q6_above_category_avg" -> Q.sqlSame(
      """SELECT n_name, COUNT(*) AS cnt
        |FROM customer JOIN nation ON n_nationkey = c_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN part ON p_partkey = l_partkey
        |WHERE year(o_orderdate) = 1997 AND month(o_orderdate) BETWEEN 1 AND 6
        |  AND p_retailprice > 1.005 * (
        |    SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*)
        |    FROM part p2 WHERE p2.p_type = part.p_type)
        |GROUP BY n_name
        |HAVING COUNT(*) >= 2
        |ORDER BY cnt ASC NULLS LAST, n_name ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q8-style: revenue restricted by an INTERSECT-derived dim set —
    //      the nation list intersected with nations having enough
    //      BUILDING customers (q8's zip-list INTERSECT preferred-customer
    //      zips), consumed through IN (subquery) ----
    "tpcds_q8_intersect_filter" -> Q.sqlSame(
      """SELECT s_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS net_sales
        |FROM lineitem
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |WHERE year(o_orderdate) = 1996
        |  AND s_nationkey IN (
        |    SELECT n_nationkey FROM nation
        |    WHERE n_name IN ('NATION_0', 'NATION_5', 'NATION_15', 'NATION_20', 'NATION_24')
        |    INTERSECT
        |    SELECT c_nationkey FROM customer
        |    WHERE c_mktsegment = 'BUILDING'
        |    GROUP BY c_nationkey HAVING COUNT(*) >= 3)
        |GROUP BY s_name
        |ORDER BY s_name ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q18-style: five decimal-cast averages under a two-level ROLLUP
    //      (q18's catalog averages over the demographic hierarchy) ----
    "tpcds_q18_rollup_averages" -> Q.sql(
      spark =
      // r18: the q67/q36 two-level rollup — pre-aggregate on the FULL
      // (n_name, c_mktsegment) key so Expand multiplies ~|nation×segment|
      // pre-summed rows instead of every fact row; outer decimal re-sums
      // and count sums are exact by associativity, the double cast and
      // ROUND happen above the full decimal sum exactly as before. DuckDB
      // keeps the single-level form.
      """SELECT n_name, c_mktsegment,
        |  ROUND(CAST(SUM(q1) AS DOUBLE) / SUM(cnt), 6) AS agg1,
        |  ROUND(CAST(SUM(q2) AS DOUBLE) / SUM(cnt), 6) AS agg2,
        |  ROUND(CAST(SUM(q3) AS DOUBLE) / SUM(cnt), 6) AS agg3,
        |  ROUND(CAST(SUM(q4) AS DOUBLE) / SUM(cnt), 6) AS agg4,
        |  ROUND(CAST(SUM(q5) AS DOUBLE) / SUM(cnt), 6) AS agg5
        |FROM (
        |  SELECT n_name, c_mktsegment,
        |    SUM(CAST(l_quantity AS DECIMAL(30,8))) AS q1,
        |    SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS q2,
        |    SUM(CAST(l_discount AS DECIMAL(30,8))) AS q3,
        |    SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS q4,
        |    SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS q5,
        |    COUNT(*) AS cnt
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  WHERE year(o_orderdate) = 1996 AND o_orderpriority = '2-HIGH'
        |  GROUP BY n_name, c_mktsegment) preagg
        |GROUP BY ROLLUP (n_name, c_mktsegment)
        |ORDER BY n_name ASC NULLS LAST, c_mktsegment ASC NULLS LAST
        |LIMIT 100""".stripMargin,
      duck =
      """SELECT n_name, c_mktsegment,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS agg1,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS agg2,
        |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS agg3,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS agg4,
        |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS agg5
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |WHERE year(o_orderdate) = 1996 AND o_orderpriority = '2-HIGH'
        |GROUP BY ROLLUP (n_name, c_mktsegment)
        |ORDER BY n_name ASC NULLS LAST, c_mktsegment ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q22-style: average on-hand quantity over the full item
    //      hierarchy ROLLUP (brand -> type -> size), ordered by the
    //      averaged measure (q22's inventory qoh rollup) ----
    "tpcds_q22_hierarchy_avg" -> Q.sql(
      spark =
      // r18 two-level rollup (q67 technique; see q18): the 3-column
      // ROLLUP's Expand multiplied every fact row ×4 — pre-aggregating on
      // the full (brand, type, size) key bounds the Expand by the part
      // hierarchy's cardinality. Exact by decimal/count associativity.
      // DuckDB keeps the single-level form.
      """SELECT p_brand, p_type, p_size,
        |  ROUND(CAST(SUM(q) AS DOUBLE) / SUM(cnt), 6) AS qoh
        |FROM (
        |  SELECT p_brand, p_type, p_size,
        |    SUM(CAST(l_quantity AS DECIMAL(30,8))) AS q, COUNT(*) AS cnt
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE year(l_shipdate) IN (1996, 1997)
        |  GROUP BY p_brand, p_type, p_size) preagg
        |GROUP BY ROLLUP (p_brand, p_type, p_size)
        |ORDER BY qoh ASC NULLS LAST, p_brand ASC NULLS LAST,
        |  p_type ASC NULLS LAST, p_size ASC NULLS LAST
        |LIMIT 100""".stripMargin,
      duck =
      """SELECT p_brand, p_type, p_size,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS qoh
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE year(l_shipdate) IN (1996, 1997)
        |GROUP BY ROLLUP (p_brand, p_type, p_size)
        |ORDER BY qoh ASC NULLS LAST, p_brand ASC NULLS LAST,
        |  p_type ASC NULLS LAST, p_size ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q41-style: dim-only query — distinct item names where a
    //      correlated COUNT over the same dim's OR-banded attributes is
    //      positive (q41's i_manufact self-join; exercises scalar-count
    //      decorrelation with zero fact involvement) ----
    "tpcds_q41_dim_self_count" -> Q.sqlSame(
      """SELECT DISTINCT p_name
        |FROM part p1
        |WHERE p_size BETWEEN 1 AND 15
        |  AND (SELECT COUNT(*) FROM part p2
        |    WHERE p2.p_brand = p1.p_brand
        |      AND ((p2.p_type IN ('ECONOMY', 'PROMO') AND p2.p_size BETWEEN 1 AND 10)
        |        OR (p2.p_type IN ('STANDARD', 'LARGE') AND p2.p_size BETWEEN 5 AND 15))) > 0
        |ORDER BY p_name ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q43-style: day-of-week conditional-sum pivot per supplier
    //      (q43's s_store day-name columns); dow is day(date) % 7 so both
    //      engines compute the identical bucket ----
    "tpcds_q43_dow_pivot" -> Q.sqlSame(
      """SELECT s_name,
        |  CAST(SUM(CAST(CASE WHEN day(o_orderdate) % 7 = 0 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(30,8))) AS DOUBLE) AS d0_sales,
        |  CAST(SUM(CAST(CASE WHEN day(o_orderdate) % 7 = 1 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(30,8))) AS DOUBLE) AS d1_sales,
        |  CAST(SUM(CAST(CASE WHEN day(o_orderdate) % 7 = 2 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(30,8))) AS DOUBLE) AS d2_sales,
        |  CAST(SUM(CAST(CASE WHEN day(o_orderdate) % 7 = 3 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(30,8))) AS DOUBLE) AS d3_sales,
        |  CAST(SUM(CAST(CASE WHEN day(o_orderdate) % 7 = 4 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(30,8))) AS DOUBLE) AS d4_sales,
        |  CAST(SUM(CAST(CASE WHEN day(o_orderdate) % 7 = 5 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(30,8))) AS DOUBLE) AS d5_sales,
        |  CAST(SUM(CAST(CASE WHEN day(o_orderdate) % 7 = 6 THEN l_extendedprice * (1 - l_discount) END AS DECIMAL(30,8))) AS DOUBLE) AS d6_sales
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE year(o_orderdate) = 1997
        |GROUP BY s_name
        |ORDER BY s_name ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q45-style: disjunction of a plain predicate and an
    //      IN-subquery (q45's zip-list OR item-id-subquery) — Catalyst
    //      must plan the subquery leg as an ExistenceJoin feeding the OR,
    //      not a semi join that would drop the left leg ----
    "tpcds_q45_or_in_subquery" -> Q.sqlSame(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS sales
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |WHERE year(o_orderdate) = 1996
        |  AND (c_acctbal > 9000
        |    OR l_partkey IN (SELECT p_partkey FROM part
        |      WHERE p_partkey IN (1, 2, 3, 5, 7, 11, 13, 17, 19, 23)))
        |GROUP BY n_name
        |ORDER BY n_name ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q2-style: week-over-week day-name pivot ratio — weekly revenue
    //      pivoted by day-of-week, one year self-joined to the next on the
    //      week index, each cell a yearly ratio (reference q02.sql's
    //      wswscs CTE joined to itself at d_year+1). Week index is
    //      arithmetic on dayofyear (identical both engines); the Spark
    //      dayofweek (1=Sunday) and DuckDB dayofweek (0=Sunday) dialects
    //      are aligned with a +1 on the oracle side ----
    "tpcds_q2_week_over_week" -> Q.sql(
      spark = """WITH wk AS (
        |  SELECT year(o_orderdate) AS yr,
        |    CAST(floor((dayofyear(o_orderdate) - 1) / 7) AS BIGINT) AS wkno,
        |    dayofweek(o_orderdate) AS dow,
        |    CAST(o_totalprice AS DECIMAL(30,8)) AS price
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
        |pv AS (
        |  SELECT yr, wkno,
        |    CAST(SUM(CASE WHEN dow = 1 THEN price END) AS DOUBLE) AS sun_sales,
        |    CAST(SUM(CASE WHEN dow = 2 THEN price END) AS DOUBLE) AS mon_sales,
        |    CAST(SUM(CASE WHEN dow = 6 THEN price END) AS DOUBLE) AS fri_sales,
        |    CAST(SUM(CASE WHEN dow = 7 THEN price END) AS DOUBLE) AS sat_sales
        |  FROM wk GROUP BY yr, wkno)
        |SELECT a.wkno AS wkno,
        |  ROUND(a.sun_sales / b.sun_sales, 2) AS sun_r,
        |  ROUND(a.mon_sales / b.mon_sales, 2) AS mon_r,
        |  ROUND(a.fri_sales / b.fri_sales, 2) AS fri_r,
        |  ROUND(a.sat_sales / b.sat_sales, 2) AS sat_r
        |FROM pv a JOIN pv b ON a.wkno = b.wkno
        |WHERE a.yr = 1995 AND b.yr = 1996
        |ORDER BY wkno ASC NULLS LAST""".stripMargin,
      duck = """WITH wk AS (
        |  SELECT year(o_orderdate) AS yr,
        |    CAST(floor((dayofyear(o_orderdate) - 1) / 7) AS BIGINT) AS wkno,
        |    dayofweek(o_orderdate) + 1 AS dow,
        |    CAST(o_totalprice AS DECIMAL(30,8)) AS price
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
        |pv AS (
        |  SELECT yr, wkno,
        |    CAST(SUM(CASE WHEN dow = 1 THEN price END) AS DOUBLE) AS sun_sales,
        |    CAST(SUM(CASE WHEN dow = 2 THEN price END) AS DOUBLE) AS mon_sales,
        |    CAST(SUM(CASE WHEN dow = 6 THEN price END) AS DOUBLE) AS fri_sales,
        |    CAST(SUM(CASE WHEN dow = 7 THEN price END) AS DOUBLE) AS sat_sales
        |  FROM wk GROUP BY yr, wkno)
        |SELECT a.wkno AS wkno,
        |  ROUND(a.sun_sales / b.sun_sales, 2) AS sun_r,
        |  ROUND(a.mon_sales / b.mon_sales, 2) AS mon_r,
        |  ROUND(a.fri_sales / b.fri_sales, 2) AS fri_r,
        |  ROUND(a.sat_sales / b.sat_sales, 2) AS sat_r
        |FROM pv a JOIN pv b ON a.wkno = b.wkno
        |WHERE a.yr = 1995 AND b.yr = 1996
        |ORDER BY wkno ASC NULLS LAST""".stripMargin),

    // ---- q11-style: the two-channel year-over-year growth screen (q4's
    //      shape with per-line channels instead of returnflag): quantity
    //      totals per (customer, year, linenumber-band channel), customers
    //      kept when the primary channel grew faster. Four self-joins of
    //      one grouped CTE — Catalyst broadcasts the grouped (small) side ----
    "tpcds_q11_channel_growth" -> Q.sqlSame(
      """WITH totals AS (
        |  SELECT c_custkey, c_name, year(o_orderdate) AS yr,
        |    CASE WHEN l_linenumber <= 2 THEN 'primary' ELSE 'secondary' END AS chan,
        |    SUM(CAST(l_quantity AS DECIMAL(30,8))) AS qty
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  WHERE year(o_orderdate) IN (1996, 1997)
        |  GROUP BY c_custkey, c_name, year(o_orderdate),
        |    CASE WHEN l_linenumber <= 2 THEN 'primary' ELSE 'secondary' END)
        |SELECT p1.c_custkey AS c_custkey, p1.c_name AS c_name,
        |  ROUND(CAST(p2.qty AS DOUBLE) / CAST(p1.qty AS DOUBLE), 6) AS primary_ratio,
        |  ROUND(CAST(s2.qty AS DOUBLE) / CAST(s1.qty AS DOUBLE), 6) AS secondary_ratio
        |FROM totals p1 JOIN totals p2 ON p1.c_custkey = p2.c_custkey
        |JOIN totals s1 ON p1.c_custkey = s1.c_custkey
        |JOIN totals s2 ON p1.c_custkey = s2.c_custkey
        |WHERE p1.chan = 'primary' AND p1.yr = 1996
        |  AND p2.chan = 'primary' AND p2.yr = 1997
        |  AND s1.chan = 'secondary' AND s1.yr = 1996
        |  AND s2.chan = 'secondary' AND s2.yr = 1997
        |  AND CAST(p2.qty AS DOUBLE) / CAST(p1.qty AS DOUBLE)
        |    > CAST(s2.qty AS DOUBLE) / CAST(s1.qty AS DOUBLE)
        |ORDER BY c_custkey ASC NULLS LAST""".stripMargin),

    // ---- q12-style: the q98 revenue-share template scoped to a 30-day
    //      ship window (the reference triplet q12/q20/q98 differs only in
    //      channel + window; the window IS q12's distinguishing clause) ----
    "tpcds_q12_windowed_share" -> Q.sqlSame(
      """SELECT p_type, p_brand, rev,
        |  ROUND(rev * 100 / CAST(SUM(CAST(rev AS DECIMAL(30,8))) OVER (PARTITION BY p_type) AS DOUBLE), 6)
        |    AS revenueratio
        |FROM (
        |  SELECT p_type, p_brand,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS rev
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE l_returnflag = 'N'
        |    AND l_shipdate BETWEEN DATE '1996-02-01' AND DATE '1996-03-01'
        |  GROUP BY p_type, p_brand) b
        |ORDER BY p_type ASC NULLS LAST, revenueratio DESC NULLS LAST, p_brand ASC NULLS LAST""".stripMargin),

    // ---- q15-style: the three-way OR customer screen — revenue by
    //      customer-id band where the band is in a list OR the nation is
    //      in a list OR the item is big-ticket (reference q15's zip-list /
    //      state-list / price>500 OR) ----
    "tpcds_q15_or_screen" -> Q.sqlSame(
      """SELECT substr(c_name, 16, 2) AS cust_band,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) AS total_sales
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |WHERE (substr(c_name, 16, 2) IN ('13', '17', '21', '29')
        |    OR n_name IN ('NATION_2', 'NATION_8', 'NATION_14')
        |    OR l_extendedprice > 4500)
        |  AND year(o_orderdate) = 1996 AND quarter(o_orderdate) = 2
        |GROUP BY substr(c_name, 16, 2)
        |ORDER BY cust_band ASC NULLS LAST""".stripMargin),

    // ---- q16-style: the catalog twin of q94's exclusive-ship screen —
    //      date-windowed finished orders whose lines involve suppliers
    //      from at least two NATIONS (vs q94's two suppliers) and with no
    //      'A'-returned line, count-distinct + total (reference q16.sql) ----
    "tpcds_q16_nation_exclusive" -> Q.sqlSame(
      """SELECT CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS order_count,
        |  ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,8))) AS DOUBLE), 2) AS total_price
        |FROM orders o
        |WHERE o.o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
        |  AND o.o_orderstatus = 'F'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l1
        |    JOIN supplier s1 ON s1.s_suppkey = l1.l_suppkey
        |    JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |    JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        |    WHERE l1.l_orderkey = o.o_orderkey AND s1.s_nationkey <> s2.s_nationkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem lr
        |    WHERE lr.l_orderkey = o.o_orderkey AND lr.l_returnflag = 'A')""".stripMargin),

    // ---- q20-style: the third member of the revenue-share triplet — the
    //      share within manufacturer-tier (p_type) over a different
    //      channel slice ('A'-flag lines) and window ----
    "tpcds_q20_channel_share" -> Q.sqlSame(
      """SELECT p_type, p_size, rev,
        |  ROUND(rev * 100 / CAST(SUM(CAST(rev AS DECIMAL(30,8))) OVER (PARTITION BY p_type) AS DOUBLE), 6)
        |    AS revenueratio
        |FROM (
        |  SELECT p_type, p_size,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS rev
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE l_returnflag = 'A'
        |    AND l_shipdate BETWEEN DATE '1997-05-01' AND DATE '1997-05-31'
        |  GROUP BY p_type, p_size) b
        |ORDER BY p_type ASC NULLS LAST, revenueratio DESC NULLS LAST, p_size ASC NULLS LAST""".stripMargin),

    // ---- q26-style: the catalog twin of q7's multi-measure averages —
    //      same four-average shape over a different dim slice (two
    //      segments, open orders, 1997) grouped by brand ----
    "tpcds_q26_catalog_avgs" -> Q.sqlSame(
      """SELECT p_brand,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS agg1,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS agg2,
        |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS agg3,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * (1 + l_tax) AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS agg4
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN part ON p_partkey = l_partkey
        |WHERE c_mktsegment IN ('MACHINERY', 'HOUSEHOLD') AND o_orderstatus = 'O'
        |  AND year(o_orderdate) = 1997
        |GROUP BY p_brand
        |ORDER BY p_brand ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q27-style: q7's averages under a ROLLUP with the grouping-level
        //  column (reference q27's rollup over state) ----
    "tpcds_q27_rollup_avgs" -> Q.sql(
      spark =
      // r18 two-level rollup (q67 technique; see q18) — GROUPING flags
      // come from the OUTER rollup exactly as q36's proven fold. DuckDB
      // keeps the single-level form.
      """SELECT n_name, p_brand,
        |  GROUPING(n_name) + GROUPING(p_brand) AS lochierarchy,
        |  ROUND(CAST(SUM(q) AS DOUBLE) / SUM(cnt), 6) AS avg_qty,
        |  ROUND(CAST(SUM(p) AS DOUBLE) / SUM(cnt), 6) AS avg_price
        |FROM (
        |  SELECT n_name, p_brand,
        |    SUM(CAST(l_quantity AS DECIMAL(30,8))) AS q,
        |    SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS p,
        |    COUNT(*) AS cnt
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE o_orderpriority = '3-MEDIUM' AND year(o_orderdate) = 1996
        |  GROUP BY n_name, p_brand) preagg
        |GROUP BY ROLLUP (n_name, p_brand)
        |ORDER BY lochierarchy DESC NULLS LAST, n_name ASC NULLS LAST, p_brand ASC NULLS LAST
        |LIMIT 200""".stripMargin,
      duck =
      """SELECT n_name, p_brand,
        |  GROUPING(n_name) + GROUPING(p_brand) AS lochierarchy,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS avg_price
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |JOIN part ON p_partkey = l_partkey
        |WHERE o_orderpriority = '3-MEDIUM' AND year(o_orderdate) = 1996
        |GROUP BY ROLLUP (n_name, p_brand)
        |ORDER BY lochierarchy DESC NULLS LAST, n_name ASC NULLS LAST, p_brand ASC NULLS LAST
        |LIMIT 200""".stripMargin),

    // ---- q30-style: the q1 above-average screen on the QUANTITY measure
    //      with the wider customer detail output (reference q30 returns
    //      the full customer row; q1 returns name+total only) ----
    "tpcds_q30_returns_detail" -> Q.sqlSame(
      """WITH ret AS (
        |  SELECT c_custkey AS ctr_custkey, c_nationkey AS ctr_nationkey,
        |    SUM(CAST(l_quantity AS DECIMAL(30,8))) AS ctr_qty
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  WHERE l_returnflag = 'R' AND year(o_orderdate) = 1997
        |  GROUP BY c_custkey, c_nationkey)
        |SELECT c_custkey, c_name, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal,
        |  CAST(ctr_qty AS DOUBLE) AS ctr_qty
        |FROM ret ctr1 JOIN customer ON c_custkey = ctr_custkey
        |WHERE CAST(ctr_qty AS DOUBLE) > (
        |  SELECT CAST(SUM(ctr2.ctr_qty) AS DOUBLE) / COUNT(*) * 1.2
        |  FROM ret ctr2 WHERE ctr2.ctr_nationkey = ctr1.ctr_nationkey)
        |ORDER BY c_custkey ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q32-style: q92's correlated excess screen on the QUANTITY
    //      measure — items whose quantity beats 1.3× the part's windowed
    //      average, summed as excess revenue (reference q32.sql) ----
    "tpcds_q32_excess_quantity" -> Q.sqlSame(
      """SELECT ROUND(CAST(SUM(CAST(w.l_extendedprice * (1 - w.l_discount) AS DECIMAL(30,8))) AS DOUBLE), 2)
        |    AS excess_revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem w JOIN part ON p_partkey = w.l_partkey
        |WHERE p_size >= 40
        |  AND w.l_shipdate BETWEEN DATE '1997-01-01' AND DATE '1997-03-31'
        |  AND w.l_quantity > 1.3 * (
        |    SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*)
        |    FROM lineitem l2
        |    WHERE l2.l_partkey = w.l_partkey
        |      AND l2.l_shipdate BETWEEN DATE '1997-01-01' AND DATE '1997-03-31')""".stripMargin),

    // ---- q33-style: three-channel union re-aggregated under an
    //      IN-subquery dim filter (reference q33/q56/q60 — per-channel
    //      CTEs each restricted to the manufacturers of one category,
    //      UNION ALL, then re-agg). Channels here are linenumber bands to
    //      keep the triplet distinct from q71's priority channels ----
    "tpcds_q33_dim_filtered_union" -> Q.sql(
      spark =
      // r18 fold (guide §2.4, the q71 technique): the three channel arms
      // carry DISJOINT l_linenumber bands (<=2 / 3..4 / >=5) over the SAME
      // fact join and the outer re-agg SUMs them per brand, so by decimal
      // associativity one pass over rows in the bands' union (= every
      // non-null linenumber) computes the identical per-brand total — the
      // IS NOT NULL guard makes the fold exact even for a null
      // linenumber, which every arm drops. 3 fact passes → 1. DuckDB
      // keeps the three-arm union.
      """WITH promo_brands AS (
        |  SELECT p_brand FROM part WHERE p_type = 'PROMO' GROUP BY p_brand)
        |SELECT p_brand, CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS total_sales
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand IN (SELECT p_brand FROM promo_brands)
        |  AND l_linenumber IS NOT NULL AND year(l_shipdate) = 1996
        |GROUP BY p_brand
        |ORDER BY total_sales DESC NULLS LAST, p_brand ASC NULLS LAST
        |LIMIT 100""".stripMargin,
      duck =
      """WITH promo_brands AS (
        |  SELECT p_brand FROM part WHERE p_type = 'PROMO' GROUP BY p_brand),
        |c1 AS (
        |  SELECT p_brand, SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS total_sales
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand IN (SELECT p_brand FROM promo_brands)
        |    AND l_linenumber <= 2 AND year(l_shipdate) = 1996
        |  GROUP BY p_brand),
        |c2 AS (
        |  SELECT p_brand, SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS total_sales
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand IN (SELECT p_brand FROM promo_brands)
        |    AND l_linenumber BETWEEN 3 AND 4 AND year(l_shipdate) = 1996
        |  GROUP BY p_brand),
        |c3 AS (
        |  SELECT p_brand, SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS total_sales
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand IN (SELECT p_brand FROM promo_brands)
        |    AND l_linenumber >= 5 AND year(l_shipdate) = 1996
        |  GROUP BY p_brand)
        |SELECT p_brand, CAST(SUM(total_sales) AS DOUBLE) AS total_sales
        |FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3) u
        |GROUP BY p_brand
        |ORDER BY total_sales DESC NULLS LAST, p_brand ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q37-style: the price-band + demand-band item screen — parts in
    //      a retail-price band whose windowed demand lands in a quantity
    //      band (reference q37's inv_quantity_on_hand BETWEEN, via the
    //      HAVING-banded semi join since the schema has no inventory) ----
    "tpcds_q37_price_demand_band" -> Q.sqlSame(
      """SELECT p_partkey, p_name, CAST(p_retailprice AS DOUBLE) AS p_retailprice
        |FROM part
        |WHERE p_retailprice BETWEEN 940 AND 960
        |  AND p_partkey IN (
        |    SELECT l_partkey FROM lineitem
        |    WHERE l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
        |    GROUP BY l_partkey
        |    HAVING SUM(l_quantity) BETWEEN 100 AND 500)
        |ORDER BY p_partkey ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q40-style: the before/after pivot NETTED for returns — each
    //      line contributes plus-or-minus revenue by returnflag, split
    //      around a pivot date (reference q40's sales-minus-refund CASE
    //      around the d_date split) ----
    "tpcds_q40_netted_pivot" -> Q.sqlSame(
      """SELECT n_name, p_brand,
        |  CAST(SUM(CASE WHEN l_shipdate < DATE '1997-06-01' THEN net END) AS DOUBLE) AS sales_before,
        |  CAST(SUM(CASE WHEN l_shipdate >= DATE '1997-06-01' THEN net END) AS DOUBLE) AS sales_after
        |FROM (
        |  SELECT l_suppkey, l_partkey, l_shipdate,
        |    CAST(CASE WHEN l_returnflag = 'R' THEN -(l_extendedprice * (1 - l_discount))
        |         ELSE l_extendedprice * (1 - l_discount) END AS DECIMAL(30,8)) AS net
        |  FROM lineitem
        |  WHERE l_shipdate BETWEEN DATE '1997-05-01' AND DATE '1997-06-30') l
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN part ON p_partkey = l_partkey
        |GROUP BY n_name, p_brand
        |ORDER BY n_name ASC NULLS LAST, p_brand ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q42/q52/q55-style: the trivial dim-fact yearly/monthly report
    //      triplet (the reference trio differs only in the reported dim:
    //      category / brand / brand-within-manager) — one entry each with
    //      the matching dim choice ----
    "tpcds_q42_type_year" -> Q.sqlSame(
      """SELECT year(o_orderdate) AS d_year, p_type,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS sum_agg
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |JOIN part ON p_partkey = l_partkey
        |WHERE year(o_orderdate) = 1998
        |GROUP BY year(o_orderdate), p_type
        |ORDER BY sum_agg DESC NULLS LAST, p_type ASC NULLS LAST""".stripMargin),

    "tpcds_q52_brand_month" -> Q.sqlSame(
      """SELECT year(o_orderdate) AS d_year, p_brand,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS ext_price
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |JOIN part ON p_partkey = l_partkey
        |WHERE year(o_orderdate) = 1997 AND month(o_orderdate) = 2
        |GROUP BY year(o_orderdate), p_brand
        |ORDER BY ext_price DESC NULLS LAST, p_brand ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    "tpcds_q55_brand_sized" -> Q.sqlSame(
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS ext_price
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_size BETWEEN 10 AND 20
        |  AND year(o_orderdate) = 1996 AND month(o_orderdate) = 11
        |GROUP BY p_brand
        |ORDER BY ext_price DESC NULLS LAST, p_brand ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q50-style: the fulfillment-latency bucket matrix by supplier
    //      nation (reference q50's 30/60/90/120/more day-diff pivot
    //      between sale and return, here order→ship) ----
    "tpcds_q50_latency_matrix" -> Q.sql(
      spark = """SELECT n_name,
        |  CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
        |  CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate) > 30 AND datediff(l_shipdate, o_orderdate) <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
        |  CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate) > 60 AND datediff(l_shipdate, o_orderdate) <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
        |  CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate) > 90 AND datediff(l_shipdate, o_orderdate) <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,
        |  CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate) > 120 THEN 1 ELSE 0 END) AS BIGINT) AS dmore
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE o_orderdate BETWEEN DATE '1996-07-01' AND DATE '1996-12-31'
        |GROUP BY n_name
        |ORDER BY n_name ASC NULLS LAST""".stripMargin,
      duck = """SELECT n_name,
        |  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
        |  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 30 AND date_diff('day', o_orderdate, l_shipdate) <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
        |  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60 AND date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
        |  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90 AND date_diff('day', o_orderdate, l_shipdate) <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,
        |  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 120 THEN 1 ELSE 0 END) AS BIGINT) AS dmore
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE o_orderdate BETWEEN DATE '1996-07-01' AND DATE '1996-12-31'
        |GROUP BY n_name
        |ORDER BY n_name ASC NULLS LAST""".stripMargin),

    // ---- q53-style: the quarterly deviation screen — per-(brand,
    //      quarter) revenue vs the brand's quarterly mean, kept when the
    //      relative deviation exceeds 10% (reference q53/q63's
    //      avg-ratio CASE; q89 is the monthly threshold sibling) ----
    "tpcds_q53_quarterly_deviation" -> Q.sqlSame(
      """SELECT p_brand, qtr, rev, ROUND(avg_rev, 6) AS avg_rev
        |FROM (
        |  SELECT p_brand, qtr, rev,
        |    CAST(SUM(CAST(rev AS DECIMAL(30,8))) OVER (PARTITION BY p_brand) AS DOUBLE)
        |      / COUNT(*) OVER (PARTITION BY p_brand) AS avg_rev
        |  FROM (
        |    SELECT p_brand, quarter(o_orderdate) AS qtr,
        |      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS rev
        |    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |    JOIN part ON p_partkey = l_partkey
        |    WHERE year(o_orderdate) = 1997 AND p_type IN ('PROMO', 'STANDARD')
        |    GROUP BY p_brand, quarter(o_orderdate)) m) d
        |WHERE avg_rev > 0 AND abs(rev - avg_rev) / avg_rev > 0.1
        |ORDER BY p_brand ASC NULLS LAST, qtr ASC NULLS LAST""".stripMargin),

    // ---- q56-style: the color-set member of the dim-filtered union
    //      triplet — brand set derived from part-name colors, channels by
    //      market segment, union re-aggregated (reference q56.sql) ----
    "tpcds_q56_color_union" -> Q.sql(
      spark =
      // r18 fold (same argument as q33): the three arms differ only in
      // DISJOINT c_mktsegment values over the same fact join, so one pass
      // filtered to the segments' union computes the identical per-brand
      // total by decimal associativity (a null segment is dropped by
      // every arm and by the IN). 3 fact passes → 1. DuckDB keeps the
      // three-arm union.
      """WITH color_brands AS (
        |  SELECT p_brand FROM part
        |  WHERE p_name LIKE 'red %' OR p_name LIKE 'blue %' OR p_name LIKE 'green %'
        |  GROUP BY p_brand)
        |SELECT p_brand, CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS total_sales
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand IN (SELECT p_brand FROM color_brands)
        |  AND c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'FURNITURE')
        |  AND year(o_orderdate) = 1997
        |GROUP BY p_brand
        |ORDER BY total_sales ASC NULLS LAST, p_brand ASC NULLS LAST
        |LIMIT 100""".stripMargin,
      duck =
      """WITH color_brands AS (
        |  SELECT p_brand FROM part
        |  WHERE p_name LIKE 'red %' OR p_name LIKE 'blue %' OR p_name LIKE 'green %'
        |  GROUP BY p_brand),
        |c1 AS (
        |  SELECT p_brand, SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS total_sales
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand IN (SELECT p_brand FROM color_brands)
        |    AND c_mktsegment = 'AUTOMOBILE' AND year(o_orderdate) = 1997
        |  GROUP BY p_brand),
        |c2 AS (
        |  SELECT p_brand, SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS total_sales
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand IN (SELECT p_brand FROM color_brands)
        |    AND c_mktsegment = 'BUILDING' AND year(o_orderdate) = 1997
        |  GROUP BY p_brand),
        |c3 AS (
        |  SELECT p_brand, SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS total_sales
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand IN (SELECT p_brand FROM color_brands)
        |    AND c_mktsegment = 'FURNITURE' AND year(o_orderdate) = 1997
        |  GROUP BY p_brand)
        |SELECT p_brand, CAST(SUM(total_sales) AS DOUBLE) AS total_sales
        |FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3) u
        |GROUP BY p_brand
        |ORDER BY total_sales ASC NULLS LAST, p_brand ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q57-style: q47's lag/lead neighborhood with the RANK-of-
    //      deviation selection instead of the threshold screen — the top-3
    //      most deviant months per supplier nation, with their neighbors
    //      (reference q57 ranks by avg-deviation and keeps the head) ----
    "tpcds_q57_top_deviations" -> Q.sqlSame(
      """SELECT n_name, mo, rev, ROUND(prev_rev, 2) AS prev_rev,
        |  ROUND(next_rev, 2) AS next_rev, dev_rank
        |FROM (
        |  SELECT n_name, mo, rev, prev_rev, next_rev,
        |    RANK() OVER (PARTITION BY n_name
        |                 ORDER BY abs(rev - avg_rev) DESC, mo ASC) AS dev_rank
        |  FROM (
        |    SELECT n_name, mo, rev,
        |      LAG(rev) OVER (PARTITION BY n_name ORDER BY mo) AS prev_rev,
        |      LEAD(rev) OVER (PARTITION BY n_name ORDER BY mo) AS next_rev,
        |      CAST(SUM(CAST(rev AS DECIMAL(30,8))) OVER (PARTITION BY n_name) AS DOUBLE)
        |        / COUNT(*) OVER (PARTITION BY n_name) AS avg_rev
        |    FROM (
        |      SELECT n_name, month(o_orderdate) AS mo,
        |        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS rev
        |      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |      JOIN supplier ON s_suppkey = l_suppkey
        |      JOIN nation ON n_nationkey = s_nationkey
        |      WHERE year(o_orderdate) = 1997
        |      GROUP BY n_name, month(o_orderdate)) m) w) d
        |WHERE dev_rank <= 3
        |ORDER BY n_name ASC NULLS LAST, dev_rank ASC NULLS LAST, mo ASC NULLS LAST""".stripMargin),

    // ---- q60-style: the third dim-filtered union — type set derived
    //      from an agg-of-agg HAVING (types with above-par average retail
    //      price), channels by order status, re-agg by type ----
    "tpcds_q60_type_union" -> Q.sql(
      spark =
      // r18 fold (same argument as q33/q56): the three arms differ only
      // in DISJOINT o_orderstatus values over the same fact join — one
      // pass filtered to the statuses' union is identical by decimal
      // associativity. 3 fact passes → 1. DuckDB keeps the union.
      """WITH rich_types AS (
        |  SELECT p_type FROM part GROUP BY p_type
        |  HAVING CAST(SUM(CAST(p_retailprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) > 949.5)
        |SELECT p_type, CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS total_sales
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_type IN (SELECT p_type FROM rich_types)
        |  AND o_orderstatus IN ('F', 'O', 'P') AND year(o_orderdate) = 1996
        |GROUP BY p_type
        |ORDER BY total_sales DESC NULLS LAST, p_type ASC NULLS LAST""".stripMargin,
      duck =
      """WITH rich_types AS (
        |  SELECT p_type FROM part GROUP BY p_type
        |  HAVING CAST(SUM(CAST(p_retailprice AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) > 949.5),
        |c1 AS (
        |  SELECT p_type, SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS total_sales
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE p_type IN (SELECT p_type FROM rich_types)
        |    AND o_orderstatus = 'F' AND year(o_orderdate) = 1996
        |  GROUP BY p_type),
        |c2 AS (
        |  SELECT p_type, SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS total_sales
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE p_type IN (SELECT p_type FROM rich_types)
        |    AND o_orderstatus = 'O' AND year(o_orderdate) = 1996
        |  GROUP BY p_type),
        |c3 AS (
        |  SELECT p_type, SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS total_sales
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE p_type IN (SELECT p_type FROM rich_types)
        |    AND o_orderstatus = 'P' AND year(o_orderdate) = 1996
        |  GROUP BY p_type)
        |SELECT p_type, CAST(SUM(total_sales) AS DOUBLE) AS total_sales
        |FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3) u
        |GROUP BY p_type
        |ORDER BY total_sales DESC NULLS LAST, p_type ASC NULLS LAST""".stripMargin),

    // ---- q61-style: the promotional-share scalar pair — two independent
    //      single-row aggregates over the same slice (one promo-screened,
    //      one not) cross-joined into a percentage (reference q61's
    //      promotional_sales / all_sales comma join) ----
    "tpcds_q61_promo_share" -> Q.sqlSame(
      """SELECT promotions, total,
        |  ROUND(promotions * 100 / total, 6) AS promo_pct
        |FROM (
        |  SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS promotions
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
        |    AND p_type = 'PROMO'
        |    AND year(o_orderdate) = 1997 AND quarter(o_orderdate) = 4) p
        |CROSS JOIN (
        |  SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS total
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
        |    AND year(o_orderdate) = 1997 AND quarter(o_orderdate) = 4) t""".stripMargin),

    // ---- q62-style: q99's latency bucket matrix at finer grain — by
    //      line status × month with the reference's 15/30/60 day edges ----
    "tpcds_q62_status_latency" -> Q.sql(
      spark = """SELECT l_linestatus, month(o_orderdate) AS mo,
        |  CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate) <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS d15,
        |  CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate) > 15 AND datediff(l_shipdate, o_orderdate) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
        |  CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate) > 30 AND datediff(l_shipdate, o_orderdate) <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
        |  CAST(SUM(CASE WHEN datediff(l_shipdate, o_orderdate) > 60 THEN 1 ELSE 0 END) AS BIGINT) AS dmore
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |WHERE year(o_orderdate) = 1996
        |GROUP BY l_linestatus, month(o_orderdate)
        |ORDER BY l_linestatus ASC NULLS LAST, mo ASC NULLS LAST""".stripMargin,
      duck = """SELECT l_linestatus, month(o_orderdate) AS mo,
        |  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS d15,
        |  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 15 AND date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
        |  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 30 AND date_diff('day', o_orderdate, l_shipdate) <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
        |  CAST(SUM(CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60 THEN 1 ELSE 0 END) AS BIGINT) AS dmore
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |WHERE year(o_orderdate) = 1996
        |GROUP BY l_linestatus, month(o_orderdate)
        |ORDER BY l_linestatus ASC NULLS LAST, mo ASC NULLS LAST""".stripMargin),

    // ---- q63-style: the PROFIT deviation sibling (q53 screens revenue
    //      by quarter, q89 revenue by month; q63 screens the margin
    //      measure) ----
    "tpcds_q63_profit_deviation" -> Q.sqlSame(
      """SELECT p_type, mo, profit, ROUND(avg_profit, 6) AS avg_profit
        |FROM (
        |  SELECT p_type, mo, profit,
        |    CAST(SUM(CAST(profit AS DECIMAL(30,8))) OVER (PARTITION BY p_type) AS DOUBLE)
        |      / COUNT(*) OVER (PARTITION BY p_type) AS avg_profit
        |  FROM (
        |    SELECT p_type, month(o_orderdate) AS mo,
        |      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) - 100.0 * l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS profit
        |    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |    JOIN part ON p_partkey = l_partkey
        |    WHERE year(o_orderdate) = 1997
        |    GROUP BY p_type, month(o_orderdate)) m) d
        |WHERE abs(avg_profit) > 0 AND abs(profit - avg_profit) / abs(avg_profit) > 0.1
        |ORDER BY p_type ASC NULLS LAST, mo ASC NULLS LAST""".stripMargin),

    // ---- q70-style: q36's rollup ranking restricted to the top nations
    //      by a pre-computed window rank (reference q70's IN-subquery
    //      selecting states whose in-country rank ≤ 5) ----
    "tpcds_q70_ranked_rollup" -> Q.sql(
      spark =
      // r18 two-level rollup (q67/q36 technique; see q18); the ranked
      // IN-subquery's second fact pass is the benchmark shape (reference
      // q70's in-country rank restriction) and stays. DuckDB keeps the
      // single-level form.
      """SELECT lochierarchy, r_name, n_name, total_rev,
        |  RANK() OVER (PARTITION BY lochierarchy
        |               ORDER BY total_rev DESC, r_name ASC NULLS FIRST,
        |                        n_name ASC NULLS FIRST) AS rank_within_parent
        |FROM (
        |  SELECT r_name, n_name,
        |    GROUPING(r_name) + GROUPING(n_name) AS lochierarchy,
        |    CAST(SUM(rev) AS DOUBLE) AS total_rev
        |  FROM (
        |    SELECT r_name, n_name,
        |      SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS rev
        |    FROM lineitem
        |    JOIN supplier ON s_suppkey = l_suppkey
        |    JOIN nation ON n_nationkey = s_nationkey
        |    JOIN region ON r_regionkey = n_regionkey
        |    WHERE year(l_shipdate) = 1997
        |      AND n_name IN (
        |        SELECT n_name FROM (
        |          SELECT rr.r_name AS rn, nn.n_name AS n_name,
        |            RANK() OVER (PARTITION BY rr.r_name
        |                         ORDER BY CAST(SUM(CAST(l2.l_extendedprice * (1 - l2.l_discount) AS DECIMAL(30,8))) AS DOUBLE) DESC,
        |                                  nn.n_name ASC) AS rnk
        |          FROM lineitem l2
        |          JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        |          JOIN nation nn ON nn.n_nationkey = s2.s_nationkey
        |          JOIN region rr ON rr.r_regionkey = nn.n_regionkey
        |          WHERE year(l2.l_shipdate) = 1997
        |          GROUP BY rr.r_name, nn.n_name) ranked
        |        WHERE rnk <= 3)
        |    GROUP BY r_name, n_name) preagg
        |  GROUP BY ROLLUP (r_name, n_name)) t
        |ORDER BY lochierarchy DESC NULLS LAST, r_name ASC NULLS LAST, n_name ASC NULLS LAST""".stripMargin,
      duck =
      """SELECT lochierarchy, r_name, n_name, total_rev,
        |  RANK() OVER (PARTITION BY lochierarchy
        |               ORDER BY total_rev DESC, r_name ASC NULLS FIRST,
        |                        n_name ASC NULLS FIRST) AS rank_within_parent
        |FROM (
        |  SELECT r_name, n_name,
        |    GROUPING(r_name) + GROUPING(n_name) AS lochierarchy,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS total_rev
        |  FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON n_nationkey = s_nationkey
        |  JOIN region ON r_regionkey = n_regionkey
        |  WHERE year(l_shipdate) = 1997
        |    AND n_name IN (
        |      SELECT n_name FROM (
        |        SELECT rr.r_name AS rn, nn.n_name AS n_name,
        |          RANK() OVER (PARTITION BY rr.r_name
        |                       ORDER BY CAST(SUM(CAST(l2.l_extendedprice * (1 - l2.l_discount) AS DECIMAL(30,8))) AS DOUBLE) DESC,
        |                                nn.n_name ASC) AS rnk
        |        FROM lineitem l2
        |        JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        |        JOIN nation nn ON nn.n_nationkey = s2.s_nationkey
        |        JOIN region rr ON rr.r_regionkey = nn.n_regionkey
        |        WHERE year(l2.l_shipdate) = 1997
        |        GROUP BY rr.r_name, nn.n_name) ranked
        |      WHERE rnk <= 3)
        |  GROUP BY ROLLUP (r_name, n_name)) t
        |ORDER BY lochierarchy DESC NULLS LAST, r_name ASC NULLS LAST, n_name ASC NULLS LAST""".stripMargin),

    // ---- q73-style: q34's count-band join-back at the narrow band —
    //      rare order shapes (1–2 lines) under a priority screen, the
    //      P-status slice (reference q73's 1-and-5 band vs q34's 15-20) ----
    "tpcds_q73_narrow_band" -> Q.sqlSame(
      """SELECT c_name, c_custkey, o_orderkey, cnt
        |FROM (
        |  SELECT l_orderkey AS okey, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING COUNT(*) BETWEEN 1 AND 2) ln
        |JOIN orders ON o_orderkey = okey
        |JOIN customer ON c_custkey = o_custkey
        |WHERE o_orderstatus = 'P' AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |ORDER BY cnt DESC NULLS LAST, c_name ASC NULLS LAST, o_orderkey ASC NULLS LAST
        |LIMIT 200""".stripMargin),

    // ---- q74-style: the orders-only growth tower (q4/q11 over the fact;
    //      q74 needs no lineitem join at all — two priority-band channels
    //      of o_totalprice, 1996 vs 1997, ratio-compared) ----
    "tpcds_q74_orders_growth" -> Q.sqlSame(
      """WITH yr_totals AS (
        |  SELECT o_custkey, year(o_orderdate) AS yr,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hi' ELSE 'lo' END AS chan,
        |    SUM(CAST(o_totalprice AS DECIMAL(30,8))) AS total
        |  FROM orders WHERE year(o_orderdate) IN (1996, 1997)
        |  GROUP BY o_custkey, year(o_orderdate),
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hi' ELSE 'lo' END)
        |SELECT h1.o_custkey AS custkey, c_name,
        |  ROUND(CAST(h2.total AS DOUBLE) / CAST(h1.total AS DOUBLE), 6) AS hi_ratio,
        |  ROUND(CAST(l2.total AS DOUBLE) / CAST(l1.total AS DOUBLE), 6) AS lo_ratio
        |FROM yr_totals h1 JOIN yr_totals h2 ON h1.o_custkey = h2.o_custkey
        |JOIN yr_totals l1 ON h1.o_custkey = l1.o_custkey
        |JOIN yr_totals l2 ON h1.o_custkey = l2.o_custkey
        |JOIN customer ON c_custkey = h1.o_custkey
        |WHERE h1.chan = 'hi' AND h1.yr = 1996 AND h2.chan = 'hi' AND h2.yr = 1997
        |  AND l1.chan = 'lo' AND l1.yr = 1996 AND l2.chan = 'lo' AND l2.yr = 1997
        |  AND CAST(h2.total AS DOUBLE) / CAST(h1.total AS DOUBLE)
        |    > CAST(l2.total AS DOUBLE) / CAST(l1.total AS DOUBLE)
        |ORDER BY custkey ASC NULLS LAST""".stripMargin),

    // ---- q76-style: the null-channel report — three UNION ALL channels
    //      each screened on an IS NULL attribute, counted and summed per
    //      (channel, column, year). The driver schema is NOT NULL
    //      throughout, so the nullable attributes are NULLIF-derived —
    //      real NULLs by the time the screen runs (reference q76 screens
    //      genuinely-null surrogate keys) ----
    "tpcds_q76_null_channels" -> Q.sqlSame(
      """SELECT channel, col_name, yr, CAST(COUNT(*) AS BIGINT) AS sales_cnt,
        |  CAST(SUM(amt) AS DOUBLE) AS sales_amt
        |FROM (
        |  SELECT 'line_return' AS channel, 'l_returnflag' AS col_name,
        |    year(l_shipdate) AS yr, CAST(l_extendedprice AS DECIMAL(30,8)) AS amt
        |  FROM lineitem WHERE NULLIF(l_returnflag, 'N') IS NULL
        |  UNION ALL
        |  SELECT 'order_status' AS channel, 'o_orderstatus' AS col_name,
        |    year(o_orderdate) AS yr, CAST(o_totalprice AS DECIMAL(30,8)) AS amt
        |  FROM orders WHERE NULLIF(o_orderstatus, 'P') IS NULL
        |  UNION ALL
        |  SELECT 'line_status' AS channel, 'l_linestatus' AS col_name,
        |    year(l_shipdate) AS yr, CAST(l_extendedprice AS DECIMAL(30,8)) AS amt
        |  FROM lineitem WHERE NULLIF(l_linestatus, 'F') IS NULL) u
        |GROUP BY channel, col_name, yr
        |ORDER BY channel ASC NULLS LAST, col_name ASC NULLS LAST, yr ASC NULLS LAST""".stripMargin),

    // ---- q79-style: the aggregated city-pair profit report (q46/q68
    //      emit order-level rows; q79 aggregates per (customer, nation)
    //      with a profit HAVING over a weekday slice) ----
    "tpcds_q79_pair_profit" -> Q.sqlSame(
      """SELECT c_name, sn.n_name AS bought_nation,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) - 100.0 * l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS profit
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation cn ON cn.n_nationkey = c_nationkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation sn ON sn.n_nationkey = s_nationkey
        |WHERE cn.n_name <> sn.n_name AND o_orderpriority = '2-HIGH'
        |  AND day(o_orderdate) % 7 IN (1, 2)
        |  AND year(o_orderdate) = 1997
        |GROUP BY c_name, sn.n_name
        |HAVING SUM(CAST(l_extendedprice * (1 - l_discount) - 100.0 * l_quantity AS DECIMAL(30,8))) > 0
        |ORDER BY profit DESC NULLS LAST, c_name ASC NULLS LAST, bought_nation ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q81-style: the third above-average returns screen — the TAX
    //      measure on 'A'-flag returns with nation detail in the output
    //      (q1 revenue / q30 quantity / q81 tax completes the reference
    //      triplet) ----
    "tpcds_q81_tax_returns" -> Q.sqlSame(
      """WITH ret AS (
        |  SELECT c_custkey AS ctr_custkey, c_nationkey AS ctr_nationkey,
        |    SUM(CAST(l_extendedprice * l_tax AS DECIMAL(30,8))) AS ctr_tax
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  WHERE l_returnflag = 'A'
        |  GROUP BY c_custkey, c_nationkey)
        |SELECT c_custkey, c_name, n_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal,
        |  CAST(ctr_tax AS DOUBLE) AS ctr_tax
        |FROM ret ctr1 JOIN customer ON c_custkey = ctr_custkey
        |JOIN nation ON n_nationkey = c_nationkey
        |WHERE CAST(ctr_tax AS DOUBLE) > (
        |  SELECT CAST(SUM(ctr2.ctr_tax) AS DOUBLE) / COUNT(*) * 1.2
        |  FROM ret ctr2 WHERE ctr2.ctr_nationkey = ctr1.ctr_nationkey)
        |ORDER BY c_custkey ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q82-style: q37's band screen with the supplier leg — parts in
    //      a size band whose demand from a nation set clears a quantity
    //      bar (reference q82 adds the item-supplier join to q37) ----
    "tpcds_q82_supplier_band" -> Q.sqlSame(
      """SELECT p_partkey, p_name, CAST(p_retailprice AS DOUBLE) AS p_retailprice
        |FROM part
        |WHERE p_size BETWEEN 25 AND 35
        |  AND p_partkey IN (
        |    SELECT l_partkey FROM lineitem
        |    JOIN supplier ON s_suppkey = l_suppkey
        |    JOIN nation ON n_nationkey = s_nationkey
        |    WHERE n_name IN ('NATION_1', 'NATION_5', 'NATION_9')
        |      AND l_shipdate BETWEEN DATE '1997-01-01' AND DATE '1997-06-30'
        |    GROUP BY l_partkey HAVING SUM(l_quantity) >= 50)
        |ORDER BY p_partkey ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q83-style: the three-slice returns ratio join — returned
    //      quantity per brand over three disjoint channel slices, each
    //      restricted by a NESTED date-IN subquery (reference q83's
    //      d_date IN (SELECT … WHERE d_week_seq IN (SELECT …))), 3-way
    //      joined on brand with each slice's share of the three-way mean ----
    "tpcds_q83_returns_ratio" -> Q.sqlSame(
      """WITH mset AS (
        |  SELECT month(o_orderdate) AS m FROM orders
        |  WHERE CAST(o_orderdate AS DATE) IN (DATE '1996-06-30', DATE '1996-09-27', DATE '1996-11-17')
        |  GROUP BY month(o_orderdate)),
        |r1 AS (
        |  SELECT p_brand, SUM(CAST(l_quantity AS DECIMAL(30,8))) AS q1
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE l_returnflag = 'R' AND l_linenumber <= 2
        |    AND month(l_shipdate) IN (SELECT m FROM mset)
        |  GROUP BY p_brand),
        |r2 AS (
        |  SELECT p_brand, SUM(CAST(l_quantity AS DECIMAL(30,8))) AS q2
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE l_returnflag = 'R' AND l_linenumber BETWEEN 3 AND 4
        |    AND month(l_shipdate) IN (SELECT m FROM mset)
        |  GROUP BY p_brand),
        |r3 AS (
        |  SELECT p_brand, SUM(CAST(l_quantity AS DECIMAL(30,8))) AS q3
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE l_returnflag = 'R' AND l_linenumber >= 5
        |    AND month(l_shipdate) IN (SELECT m FROM mset)
        |  GROUP BY p_brand)
        |SELECT r1.p_brand AS p_brand,
        |  CAST(q1 AS DOUBLE) AS qty1,
        |  ROUND(CAST(q1 AS DOUBLE) * 100 / ((CAST(q1 AS DOUBLE) + CAST(q2 AS DOUBLE) + CAST(q3 AS DOUBLE)) / 3), 2) AS dev1,
        |  CAST(q2 AS DOUBLE) AS qty2,
        |  ROUND(CAST(q2 AS DOUBLE) * 100 / ((CAST(q1 AS DOUBLE) + CAST(q2 AS DOUBLE) + CAST(q3 AS DOUBLE)) / 3), 2) AS dev2,
        |  CAST(q3 AS DOUBLE) AS qty3,
        |  ROUND(CAST(q3 AS DOUBLE) * 100 / ((CAST(q1 AS DOUBLE) + CAST(q2 AS DOUBLE) + CAST(q3 AS DOUBLE)) / 3), 2) AS dev3,
        |  ROUND((CAST(q1 AS DOUBLE) + CAST(q2 AS DOUBLE) + CAST(q3 AS DOUBLE)) / 3, 2) AS average
        |FROM r1 JOIN r2 ON r1.p_brand = r2.p_brand
        |JOIN r3 ON r1.p_brand = r3.p_brand
        |ORDER BY p_brand ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q84-style: the no-fact dim-chain lookup — customer → nation →
    //      region joined through an INLINE income-band VALUES table on an
    //      acctbal BETWEEN (reference q84's income_band join), semi-joined
    //      to having-returned customers, concat display name ----
    "tpcds_q84_dim_chain" -> Q.sqlSame(
      """SELECT c_custkey, concat(c_name, ' / ', n_name) AS customername
        |FROM customer
        |JOIN nation ON n_nationkey = c_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |JOIN (VALUES (0.0, 2500.0), (2500.0, 5000.0)) AS ib(ib_lo, ib_hi)
        |  ON c_acctbal >= ib_lo AND c_acctbal < ib_hi
        |WHERE r_name = 'ASIA'
        |  AND c_custkey IN (
        |    SELECT o_custkey FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |    WHERE l_returnflag = 'R')
        |ORDER BY c_custkey ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q85-style: the triple-OR band select over RETURNS with reason
    //      grouping — each OR arm pairs a segment, a balance band and a
    //      quantity band (reference q85's marital/education/sales-price
    //      towers over web returns, grouped by return reason) ----
    "tpcds_q85_returns_bands" -> Q.sqlSame(
      """SELECT o_orderpriority,
        |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
        |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
        |  ROUND(CAST(SUM(CAST(l_tax AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*), 6) AS avg_tax
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |WHERE l_returnflag = 'R' AND year(o_orderdate) = 1996
        |  AND ((c_mktsegment = 'AUTOMOBILE' AND c_acctbal BETWEEN 0 AND 3000
        |        AND l_quantity BETWEEN 1 AND 15)
        |    OR (c_mktsegment = 'BUILDING' AND c_acctbal BETWEEN 3000 AND 6000
        |        AND l_quantity BETWEEN 16 AND 35)
        |    OR (c_mktsegment = 'HOUSEHOLD' AND c_acctbal BETWEEN 6000 AND 10000
        |        AND l_quantity BETWEEN 36 AND 50))
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC NULLS LAST""".stripMargin),

    // ---- q86-style: q36's ranked rollup over the ITEM hierarchy with no
    //      base-table dims beyond the fact join (reference q86 is q36
    //      minus the store leg) ----
    "tpcds_q86_item_rollup" -> Q.sql(
      spark =
      // r18 two-level rollup (q67/q36 technique; see q18). DuckDB keeps
      // the single-level form.
      """SELECT lochierarchy, p_type, p_brand, total_rev,
        |  RANK() OVER (PARTITION BY lochierarchy
        |               ORDER BY total_rev DESC, p_type ASC NULLS FIRST,
        |                        p_brand ASC NULLS FIRST) AS rank_within_parent
        |FROM (
        |  SELECT p_type, p_brand,
        |    GROUPING(p_type) + GROUPING(p_brand) AS lochierarchy,
        |    CAST(SUM(rev) AS DOUBLE) AS total_rev
        |  FROM (
        |    SELECT p_type, p_brand,
        |      SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS rev
        |    FROM lineitem JOIN part ON p_partkey = l_partkey
        |    WHERE year(l_shipdate) = 1997
        |    GROUP BY p_type, p_brand) preagg
        |  GROUP BY ROLLUP (p_type, p_brand)) t
        |ORDER BY lochierarchy DESC NULLS LAST, p_type ASC NULLS LAST, p_brand ASC NULLS LAST""".stripMargin,
      duck =
      """SELECT lochierarchy, p_type, p_brand, total_rev,
        |  RANK() OVER (PARTITION BY lochierarchy
        |               ORDER BY total_rev DESC, p_type ASC NULLS FIRST,
        |                        p_brand ASC NULLS FIRST) AS rank_within_parent
        |FROM (
        |  SELECT p_type, p_brand,
        |    GROUPING(p_type) + GROUPING(p_brand) AS lochierarchy,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS total_rev
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE year(l_shipdate) = 1997
        |  GROUP BY ROLLUP (p_type, p_brand)) t
        |ORDER BY lochierarchy DESC NULLS LAST, p_type ASC NULLS LAST, p_brand ASC NULLS LAST""".stripMargin),

    // ---- q91-style: the call-center monthly returns-loss report — loss
    //      by (priority-band "call center", month) over a customer screen
    //      that ORs a negative balance with a segment (reference q91's
    //      cd_marital/cd_education OR with hd_buy_potential) ----
    "tpcds_q91_callcenter_loss" -> Q.sqlSame(
      """SELECT o_orderpriority AS call_center, month(o_orderdate) AS mo,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS returns_loss
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |WHERE l_returnflag = 'R' AND year(o_orderdate) = 1997
        |  AND (c_acctbal < 0 OR c_mktsegment = 'AUTOMOBILE')
        |GROUP BY o_orderpriority, month(o_orderdate)
        |ORDER BY returns_loss DESC NULLS LAST, call_center ASC NULLS LAST, mo ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q14_2-style: the second q14 file — same three-channel INTERSECT
    //      part set, but the scalar-bar HAVING is replaced by the
    //      this-period vs last-period side-by-side compare (reference
    //      q14_2.sql's this_year/last_year week join) ----
    // Spark side: cross_parts rides the same presence-flag form as q14
    // (one fact pass ≡ the INTERSECT chain), and the cur/prev year arms
    // fold into ONE pass with year-routed conditional sums — a brand is
    // "in cur" iff its 1997 conditional sum is non-null (≥1 matching
    // row), exactly the inner join's membership rule, and the decimal
    // compare/casts are unchanged. 5 fact passes → 2. DuckDB keeps the
    // original formulation.
    "tpcds_q14_2_period_compare" -> Q.sql(
      spark =
      """WITH cross_parts AS (
        |  SELECT l_partkey AS pk
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
        |  GROUP BY l_partkey
        |  HAVING MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) = 1
        |     AND MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) = 1
        |     AND MAX(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) = 1),
        |periods AS (
        |  SELECT p_brand,
        |    dsum8_dec(CASE WHEN year(o_orderdate) = 1997
        |      THEN l_extendedprice * (1 - l_discount) END) AS cur_s,
        |    dsum8_dec(CASE WHEN year(o_orderdate) = 1996
        |      THEN l_extendedprice * (1 - l_discount) END) AS prev_s
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE year(o_orderdate) IN (1996, 1997)
        |    AND l_partkey IN (SELECT pk FROM cross_parts)
        |  GROUP BY p_brand)
        |SELECT p_brand,
        |  CAST(cur_s AS DOUBLE) AS cur_sales,
        |  CAST(prev_s AS DOUBLE) AS prev_sales
        |FROM periods
        |WHERE cur_s IS NOT NULL AND prev_s IS NOT NULL AND cur_s > prev_s
        |ORDER BY p_brand ASC NULLS LAST""".stripMargin,
      duck =
      """WITH cross_parts AS (
        |  SELECT l_partkey AS pk FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT
        |  SELECT l_partkey FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderpriority = '2-HIGH'
        |  INTERSECT
        |  SELECT l_partkey FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderpriority = '3-MEDIUM'),
        |cur AS (
        |  SELECT p_brand, SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS sales
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE year(o_orderdate) = 1997 AND l_partkey IN (SELECT pk FROM cross_parts)
        |  GROUP BY p_brand),
        |prev AS (
        |  SELECT p_brand, SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS sales
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  JOIN part ON p_partkey = l_partkey
        |  WHERE year(o_orderdate) = 1996 AND l_partkey IN (SELECT pk FROM cross_parts)
        |  GROUP BY p_brand)
        |SELECT cur.p_brand AS p_brand,
        |  CAST(cur.sales AS DOUBLE) AS cur_sales,
        |  CAST(prev.sales AS DOUBLE) AS prev_sales
        |FROM cur JOIN prev ON cur.p_brand = prev.p_brand
        |WHERE cur.sales > prev.sales
        |ORDER BY p_brand ASC NULLS LAST""".stripMargin),

    // ---- q23_2-style: the second q23 file — the same frequent-item ∩
    //      best-customer funnel, reported PER CUSTOMER instead of as one
    //      global total (reference q23_2 groups by last/first name) ----
    "tpcds_q23_2_per_customer" -> Q.sqlSame(
      """WITH frequent_parts AS (
        |  SELECT l_partkey AS fp FROM lineitem
        |  GROUP BY l_partkey HAVING COUNT(*) > 30),
        |best_customers AS (
        |  SELECT o_custkey AS bc
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY o_custkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(30,8))) > 1000)
        |SELECT c_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS sales
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |WHERE l_partkey IN (SELECT fp FROM frequent_parts)
        |  AND o_custkey IN (SELECT bc FROM best_customers)
        |  AND year(o_orderdate) = 1997
        |GROUP BY c_name
        |ORDER BY sales DESC NULLS LAST, c_name ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q24_2-style: the second q24 file — the identical ssales CTE
    //      with the OTHER screen attribute (reference q24_1 'pale' vs
    //      q24_2 'chiffon'; here the Brand#1 tier) and the size attribute
    //      carried into the report ----
    "tpcds_q24_2_netpaid_sized" -> Q.sqlSame(
      """WITH ssales AS (
        |  SELECT c_name, s_name, sn.n_name AS nat, p_brand, p_size,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS netpaid
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN part ON p_partkey = l_partkey
        |  JOIN nation sn ON sn.n_nationkey = s_nationkey
        |  WHERE l_returnflag = 'R' AND c_nationkey = s_nationkey
        |  GROUP BY c_name, s_name, sn.n_name, p_brand, p_size)
        |SELECT c_name, s_name, p_size,
        |  CAST(SUM(CAST(netpaid AS DECIMAL(30,8))) AS DOUBLE) AS paid
        |FROM ssales
        |WHERE p_brand LIKE 'Brand#1%'
        |GROUP BY c_name, s_name, p_size
        |HAVING CAST(SUM(CAST(netpaid AS DECIMAL(30,8))) AS DOUBLE) > (
        |  SELECT 0.05 * CAST(SUM(CAST(netpaid AS DECIMAL(30,8))) AS DOUBLE) / COUNT(*) FROM ssales)
        |ORDER BY c_name ASC NULLS LAST, s_name ASC NULLS LAST, p_size ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q39_2-style: the second q39 file — the volatility stats
    //      self-joined on CONSECUTIVE periods with the high-cov screen on
    //      the first period (reference q39_2 pairs d_moy with d_moy+1 and
    //      keeps cov ≥ 1.5; quarters here, same closed-form stddev as
    //      q39_1 so the screen is bit-deterministic) ----
    "tpcds_q39_2_consecutive_cov" -> Q.sqlSame(
      """WITH inv AS (
        |  SELECT l_partkey, quarter(l_shipdate) AS qtr, month(l_shipdate) AS mth,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(30,8))) AS DOUBLE) AS qty
        |  FROM lineitem WHERE year(l_shipdate) = 1996
        |  GROUP BY l_partkey, quarter(l_shipdate), month(l_shipdate)),
        |stats AS (
        |  SELECT l_partkey, qtr,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(qty AS DECIMAL(30,8))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(qty * qty AS DECIMAL(38,8))) AS DOUBLE) AS sxx
        |  FROM inv GROUP BY l_partkey, qtr)
        |SELECT s1.l_partkey AS l_partkey, s1.qtr AS q1,
        |  ROUND(s1.sx / s1.n, 4) AS mean1,
        |  ROUND(SQRT((s1.sxx - s1.sx * s1.sx / s1.n) / (s1.n - 1)) / (s1.sx / s1.n), 4) AS cov1,
        |  s2.qtr AS q2,
        |  ROUND(s2.sx / s2.n, 4) AS mean2,
        |  ROUND(SQRT((s2.sxx - s2.sx * s2.sx / s2.n) / (s2.n - 1)) / (s2.sx / s2.n), 4) AS cov2
        |FROM stats s1 JOIN stats s2
        |  ON s1.l_partkey = s2.l_partkey AND s2.qtr = s1.qtr + 1
        |WHERE s1.n >= 3 AND s2.n >= 3 AND s1.sx > 0 AND s2.sx > 0
        |  AND SQRT((s1.sxx - s1.sx * s1.sx / s1.n) / (s1.n - 1)) / (s1.sx / s1.n) > 0.5
        |ORDER BY l_partkey ASC NULLS LAST, q1 ASC NULLS LAST
        |LIMIT 100""".stripMargin),

    // ---- q96-style: the single-count hour-band probe over the events
    //      stream table (reference q96 counts store_sales at 8:30–9:00 for
    //      one demographic; hour() dialects aligned per the q90 pattern) ----
    "tpcds_q96_hour_count" -> Q.sql(
      spark = """SELECT CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events
        |WHERE hour(ts) BETWEEN 15 AND 17 AND event_type IN ('view', 'click')""".stripMargin,
      duck = """SELECT CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events
        |WHERE hour(CAST(ts AS TIMESTAMP)) BETWEEN 15 AND 17 AND event_type IN ('view', 'click')""".stripMargin),
  )
}

