package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables.{dsum, dsumSql, withFlat}
import graft.cube.TpchCube

/** Query and oracle contract — see SURVEY.md §7.
  *
  * Each entry in [[queries]] exercises one operator family from
  * SURVEY.md §2; [[oracleSql]] carries the DuckDB-equivalent SQL the
  * driver uses as a differential oracle. Column names and aggregate
  * aliases match on both sides (the driver hashes columns by name).
  * Double aggregates go through DECIMAL(28,6) (see [[Tables.dsum]]) so
  * results are bit-identical regardless of summation order.
  *
  * Star-join queries are written once in portable ANSI SQL ([[StarQueries]])
  * and executed by Spark *through the engine* — `Graft.install` +
  * `TpchCube.ensure` — so the driver's correctness gate also gates the
  * star-join-elimination and time-bucket-pruning rewrites; the identical
  * text is handed to DuckDB as the oracle.
  */
object SparkEntry {

  /** Install the engine into the session and register base tables + cube.
    * (`events` is excluded: its nanosecond timestamps need the dedicated
    * reader in the streaming layer, not a plain view.) Idempotent and
    * cached per (session, dir) — queries call it unconditionally.
    */
  private val engineReady =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Boolean]

  private def engine(s: SparkSession, dir: String): Unit =
    engineReady.getOrElseUpdate((s, dir), {
      // one-time session warm-up (temp-view schema reads + cube/rollup
      // ensure): recorded in query history as build:engine-warmup so the
      // first query's extra wall time is attributable, not an outlier
      val t0 = System.nanoTime()
      Graft.install(s)
      for (t <- Tables.starTables ++ Seq("documents", "embeddings"))
        Tables.t(s, dir, t).createOrReplaceTempView(t)
      TpchCube.ensure(s, dir)
      graft.cube.RollupCube.ensure(s, dir)
      graft.plans.QueryHistory.recordBuild("engine-warmup",
        (System.nanoTime() - t0) / 1000000L,
        s"temp views + cube/rollup ensure for $dir")
      true
    })

  /** Portable SQL (runs verbatim on Spark and DuckDB). */
  object StarQueries {
    private def dec(expr: String) = s"CAST(sum(CAST($expr AS DECIMAL(28,6))) AS DOUBLE)"

    val q03_shipping_priority: String =
      s"""SELECT l_orderkey,
         |  ${dec("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR(10)) AS orderdate
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1996-03-15'
         |  AND l_shipdate > TIMESTAMP '1996-03-15'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin

    val q05_local_supplier: String =
      s"""SELECT n_name AS nation,
         |  ${dec("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1997-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, nation""".stripMargin

    val q06_forecast_revenue: String =
      s"""SELECT ${dec("l_extendedprice * l_discount")} AS revenue,
         |  count(*) AS cnt
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24.0""".stripMargin

    val q08_market_share: String =
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  ${dec("CASE WHEN sn.n_name = 'NATION_20' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
         |  / ${dec("l_extendedprice * (1.0 - l_discount)")} AS mkt_share
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN region cr ON cn.n_regionkey = cr.r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |JOIN part ON l_partkey = p_partkey
         |WHERE cr.r_name = 'AMERICA' AND p_type = 'ECONOMY'
         |GROUP BY 1
         |ORDER BY 1""".stripMargin

    /** Non-aggregate select-detail over the star join (the reference's
      * `nonAggregateQueryHandling=push_project_and_filters` select-query
      * path, `DefaultSource.scala:252-260`): Project+Filter collapse onto
      * the cube scan with no Aggregate on top.
      */
    val q_select_push: String =
      s"""SELECT l_orderkey, l_linenumber, p_name, s_name, l_quantity
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |WHERE p_brand = 'Brand#19' AND l_quantity > 40.0
         |ORDER BY l_orderkey, l_linenumber
         |LIMIT 50""".stripMargin

    /** Semi/anti-join shapes (IN / NOT EXISTS subqueries). The reference
      * leaves non-inner joins to Spark (`JoinTransform.scala:307` matches
      * Inner only); ours run natively as Left{Semi,Anti} hash joins.
      */
    val q_semi_anti: String =
      s"""SELECT c_mktsegment, count(*) AS cnt
         |FROM customer
         |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 250000.0)
         |  AND NOT EXISTS (SELECT 1 FROM orders
         |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin

    val q10_returned_items: String =
      s"""SELECT c_custkey, c_name,
         |  ${dec("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  n_name AS nation
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1996-07-01'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin

    val ship_date_range: String =
      s"""SELECT CAST(year(l_shipdate) AS INTEGER) AS l_year,
         |  count(*) AS cnt,
         |  ${dec("l_extendedprice")} AS sum_price
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |  AND l_shipdate < TIMESTAMP '1996-07-01'
         |GROUP BY 1
         |ORDER BY 1""".stripMargin

    /** The remaining TPC-H query shapes (Q4, Q9, Q11-Q22), adapted to the
      * reduced synthetic schema (no partsupp / commitdate / receiptdate /
      * phone / comment columns) while preserving each query's *operator*
      * signature: EXISTS / NOT EXISTS (Q4, Q21, Q22), multi-way star joins
      * with LIKE (Q9), scalar subquery in HAVING (Q11), CASE aggregation
      * (Q12, Q14), LEFT OUTER JOIN + count distribution (Q13), CTE reused
      * by a scalar subquery (Q15), NOT IN + count(DISTINCT) (Q16),
      * correlated scalar aggregate subquery (Q17), IN over a HAVING
      * subquery (Q18), OR'd predicate brackets (Q19), nested IN chains
      * (Q20). The reference only benchmarks Q1/Q3/Q5/Q7/Q8/Q10 (its Druid
      * pushdown can't express the rest — `TPCHQueries.scala` stops there);
      * ours run as native Spark plans, so the full suite is serviceable.
      */
    val tpchFull: Map[String, String] = Map(
      "q04_order_priority" ->
        """SELECT o_orderpriority, count(*) AS cnt
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          |  AND o_orderdate < TIMESTAMP '1996-10-01'
          |  AND EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin,
      "q09_product_profit" ->
        s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           |  ${dec("l_extendedprice * (1.0 - l_discount)")} AS sum_profit
           |FROM lineitem
           |JOIN part ON l_partkey = p_partkey
           |JOIN supplier ON l_suppkey = s_suppkey
           |JOIN nation ON s_nationkey = n_nationkey
           |JOIN orders ON l_orderkey = o_orderkey
           |WHERE p_name LIKE '%red%'
           |GROUP BY 1, 2
           |ORDER BY nation, o_year""".stripMargin,
      "q11_important_parts" ->
        s"""SELECT l_partkey, ${dec("l_extendedprice")} AS value
           |FROM lineitem
           |GROUP BY l_partkey
           |HAVING ${dec("l_extendedprice")} >
           |  (SELECT ${dec("l_extendedprice")} * 0.0008 FROM lineitem)
           |ORDER BY value DESC, l_partkey
           |LIMIT 20""".stripMargin,
      "q12_priority_lines" ->
        """SELECT l_linestatus,
          |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          |  CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          |GROUP BY l_linestatus
          |ORDER BY l_linestatus""".stripMargin,
      "q13_cust_distribution" ->
        """SELECT c_count, count(*) AS custdist FROM (
          |  SELECT c_custkey, count(o_orderkey) AS c_count
          |  FROM customer LEFT OUTER JOIN orders
          |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
          |  GROUP BY c_custkey) c_orders
          |GROUP BY c_count
          |ORDER BY custdist DESC, c_count DESC""".stripMargin,
      "q14_promo_revenue" ->
        s"""SELECT 100.0 * ${dec("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
           |  / ${dec("l_extendedprice * (1.0 - l_discount)")} AS promo_revenue
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,
      "q15_top_supplier" ->
        s"""WITH revenue AS (
           |  SELECT l_suppkey AS supplier_no, ${dec("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
           |  FROM lineitem
           |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
           |  GROUP BY l_suppkey)
           |SELECT s_suppkey, s_name, total_revenue
           |FROM supplier JOIN revenue ON s_suppkey = supplier_no
           |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
           |ORDER BY s_suppkey""".stripMargin,
      "q16_parts_supplier" ->
        """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE p_brand <> 'Brand#0'
          |  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
          |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
          |GROUP BY p_brand, p_type, p_size
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
          |LIMIT 30""".stripMargin,
      "q17_small_qty_revenue" ->
        """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / 7.0 AS avg_yearly
          |FROM lineitem JOIN part ON p_partkey = l_partkey
          |WHERE p_brand = 'Brand#3' AND p_type = 'ECONOMY'
          |  AND l_quantity < (SELECT CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / (5.0 * count(*))
          |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,
      "q18_large_orders" ->
        s"""SELECT c_custkey, o_orderkey,
           |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR(10)) AS odate, o_totalprice,
           |  ${dec("l_quantity")} AS sum_qty
           |FROM customer JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON o_orderkey = l_orderkey
           |WHERE o_orderkey IN (
           |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
           |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) > 140.0)
           |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
           |ORDER BY o_totalprice DESC, o_orderkey
           |LIMIT 20""".stripMargin,
      "q19_bracket_disc" ->
        s"""SELECT ${dec("l_extendedprice * (1.0 - l_discount)")} AS revenue, count(*) AS cnt
           |FROM lineitem JOIN part ON p_partkey = l_partkey
           |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1.0 AND l_quantity <= 21.0)
           |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity >= 10.0 AND l_quantity <= 30.0)
           |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity >= 20.0 AND l_quantity <= 40.0)""".stripMargin,
      "q20_excess_suppliers" ->
        """SELECT s_suppkey, s_name FROM supplier
          |WHERE s_suppkey IN (
          |  SELECT l_suppkey FROM lineitem
          |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          |    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          |  GROUP BY l_suppkey
          |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) > 50.0)
          |  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11'))
          |ORDER BY s_suppkey""".stripMargin,
      "q21_waiting_supplier" ->
        """SELECT s_name, count(*) AS numwait
          |FROM supplier
          |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
          |JOIN orders ON o_orderkey = l1.l_orderkey
          |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          |  AND EXISTS (SELECT 1 FROM lineitem l2
          |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
          |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          |                    AND l3.l_returnflag = 'R')
          |GROUP BY s_name
          |ORDER BY numwait DESC, s_name
          |LIMIT 10""".stripMargin,
      "q22_global_sales" ->
        s"""SELECT cntrycode, count(*) AS numcust, ${dec("c_acctbal")} AS totacctbal
           |FROM (
           |  SELECT substring(c_name, 15, 2) AS cntrycode, c_acctbal, c_custkey
           |  FROM customer
           |  WHERE substring(c_name, 15, 2) IN ('00', '01', '02', '03', '04', '05', '11', '12')
           |    AND c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / count(*)
           |                     FROM customer WHERE c_acctbal > 0.0)
           |) custsale
           |WHERE NOT EXISTS (SELECT 1 FROM orders
           |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
           |GROUP BY cntrycode
           |ORDER BY cntrycode""".stripMargin)

    val all: Map[String, String] = tpchFull ++ Map(
      "q03_shipping_priority" -> q03_shipping_priority,
      "q05_local_supplier"    -> q05_local_supplier,
      "q06_forecast_revenue"  -> q06_forecast_revenue,
      "q08_market_share"      -> q08_market_share,
      "q10_returned_items"    -> q10_returned_items,
      "q_select_push"         -> q_select_push,
      "q_semi_anti"           -> q_semi_anti,
      "q_ship_date_range"     -> ship_date_range,
      // Druid search query over CUBE dimensions (§4.2): a no-aggregate
      // DISTINCT with a dimension predicate plans as Aggregate(dims) and
      // rides the full route — star collapse, then the rollup lattice —
      // so it scans |rollup| pre-aggregated rows, never the fact table
      // (PlanShapeSpec locks the node scan)
      // aggregates OVER dimensions served from rollup rows (no sketch, no
      // stored metric — the lattice preserves every dim combination)
      "q_dim_aggs" ->
        """SELECT c_mktsegment, min(l_returnflag) AS min_rf,
          |  max(l_returnflag) AS max_rf,
          |  count(DISTINCT l_returnflag) AS n_rf
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin,
      "q_search_dims" ->
        """SELECT DISTINCT c_mktsegment, l_returnflag
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment LIKE '%U%'
          |ORDER BY c_mktsegment, l_returnflag""".stripMargin)
  }

  /** Portable SQL exercising the scalar/operator surface of SURVEY.md §2.2,
    * §2.4-§2.8 on the base tables (same text runs on Spark and DuckDB).
    */
  object ScalarQueries {
    private def dec(expr: String) = s"CAST(sum(CAST($expr AS DECIMAL(28,6))) AS DOUBLE)"

    val all: Map[String, String] = Map(
      // §2.4 grouping sets / rollup / cube (reference Expand path,
      // AggregateTransform.scala:98-167)
      "q_rollup" ->
        s"""SELECT l_returnflag, l_linestatus,
           |  CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
           |  CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
           |  count(*) AS cnt, ${dec("l_quantity")} AS sum_qty
           |FROM lineitem
           |GROUP BY ROLLUP(l_returnflag, l_linestatus)
           |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
      "q_cube_grouping" ->
        s"""SELECT l_returnflag, o_orderstatus, count(*) AS cnt
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY CUBE(l_returnflag, o_orderstatus)
           |ORDER BY l_returnflag NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
      // §2.4 HAVING (reference declares HavingSpec but never translates it —
      // ours is native)
      "q_having" ->
        s"""SELECT l_suppkey, count(*) AS cnt, ${dec("l_extendedprice")} AS sum_price
           |FROM lineitem
           |GROUP BY l_suppkey
           |HAVING count(*) > 45
           |ORDER BY l_suppkey""".stripMargin,
      // §2.4 multiple exact distinct aggregates (Expand + double aggregate)
      "q_multi_distinct" ->
        s"""SELECT l_returnflag,
           |  count(DISTINCT l_partkey) AS nd_part,
           |  count(DISTINCT l_suppkey) AS nd_supp,
           |  count(*) AS cnt
           |FROM lineitem
           |GROUP BY l_returnflag
           |ORDER BY l_returnflag""".stripMargin,
      // §2.7 set operations
      "q_set_except" ->
        s"""SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           |EXCEPT
           |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000.0
           |ORDER BY c_custkey""".stripMargin,
      "q_set_union_intersect" ->
        s"""SELECT x.c_custkey, count(*) AS n FROM (
           |  SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0
           |  UNION
           |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
           |  INTERSECT
           |  SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000.0
           |) x GROUP BY x.c_custkey ORDER BY x.c_custkey""".stripMargin,
      // §2.2 predicates: LIKE / NOT LIKE / IN / BETWEEN / null checks
      "q_filters" ->
        s"""SELECT p_brand, count(*) AS cnt
           |FROM part
           |WHERE (p_name LIKE '%ol%' AND p_type NOT LIKE 'PRO%'
           |  AND p_size IN (1, 5, 9, 13, 17, 21)
           |  AND p_retailprice BETWEEN 900.0 AND 1500.0)
           |  OR p_brand = 'Brand#0'
           |GROUP BY p_brand
           |ORDER BY p_brand""".stripMargin,
      // §2.8 cast matrix (reference JSCast.scala — full numeric/string/
      // temporal cast surface, here native)
      "q_scalar_cast" ->
        s"""SELECT l_orderkey,
           |  CAST(l_quantity AS INTEGER) AS qty_int,
           |  CAST(l_quantity AS VARCHAR(20)) AS qty_str,
           |  CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR(30)) AS price_dec_str,
           |  CAST(l_linenumber AS DOUBLE) AS ln_dbl,
           |  CAST(CAST(l_shipdate AS DATE) AS VARCHAR(10)) AS ship_str,
           |  CAST(CAST(l_orderkey AS VARCHAR(20)) AS BIGINT) AS key_rt,
           |  CAST(l_quantity > 25.0 AS VARCHAR(5)) AS bulk_str
           |FROM lineitem
           |WHERE l_orderkey <= 100
           |ORDER BY l_orderkey, l_linenumber""".stripMargin,
      // §2.8 string functions
      "q_scalar_string" ->
        s"""SELECT p_partkey,
           |  upper(p_name) AS uname, lower(p_brand) AS lbrand,
           |  substring(p_type, 1, 4) AS t4,
           |  concat(p_brand, '/', p_type) AS bt,
           |  CAST(length(p_name) AS INTEGER) AS nlen,
           |  replace(p_name, ' ', '_') AS undername,
           |  trim(substring(p_name, 1, 6)) AS head6
           |FROM part
           |WHERE p_partkey <= 200
           |ORDER BY p_partkey""".stripMargin,
      // §2.8 conditionals
      "q_scalar_conditional" ->
        s"""SELECT l_returnflag,
           |  CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_highdisc,
           |  count(nullif(l_linestatus, 'F')) AS n_nonf,
           |  coalesce(nullif(l_returnflag, 'N'), 'NONE') AS flag2
           |FROM lineitem
           |GROUP BY l_returnflag
           |ORDER BY l_returnflag""".stripMargin,
      // §2.8 arithmetic / math
      "q_scalar_math" ->
        s"""SELECT l_linenumber,
           |  CAST(sum(CAST(abs(l_extendedprice - l_tax * 100.0) AS DECIMAL(28,6))) AS DOUBLE) AS s_abs,
           |  CAST(sum(CAST(floor(l_quantity / 7.0) AS BIGINT)) AS BIGINT) AS s_floor,
           |  CAST(sum(CAST(ceil(l_quantity / 7.0) AS BIGINT)) AS BIGINT) AS s_ceil,
           |  CAST(sum(CAST(round(sqrt(l_quantity), 6) AS DECIMAL(28,6))) AS DOUBLE) AS s_sqrt,
           |  CAST(sum(l_orderkey % 97) AS BIGINT) AS s_mod
           |FROM lineitem
           |GROUP BY l_linenumber
           |ORDER BY l_linenumber""".stripMargin,
      // §2.9 time granularity bucketing (reference GranularitySpec)
      "q_time_granularity" ->
        s"""SELECT CAST(CAST(date_trunc('month', l_shipdate) AS DATE) AS VARCHAR(10)) AS mon,
           |  count(*) AS cnt, ${dec("l_quantity")} AS sum_qty
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
           |GROUP BY 1
           |ORDER BY 1""".stripMargin,
      // §2.9 DAY granularity over a non-month-aligned interval — served
      // from the day-grain lattice node (Druid queryGranularity=DAY)
      "q_time_day" ->
        s"""SELECT CAST(CAST(date_trunc('day', l_shipdate) AS DATE) AS VARCHAR(10)) AS d,
           |  count(*) AS cnt, ${dec("l_quantity")} AS sum_qty
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1996-03-05' AND l_shipdate < TIMESTAMP '1996-04-10'
           |GROUP BY 1
           |ORDER BY 1""".stripMargin,
      // §2.9 disjunctive time intervals (Druid's `intervals` is a LIST):
      // the OR of two disjoint ranges prunes to two bucket ranges, the gap
      // between them never scanned
      "q_time_disjoint" ->
        s"""SELECT l_returnflag, count(*) AS cnt, ${dec("l_quantity")} AS sum_qty
           |FROM lineitem
           |WHERE (l_shipdate >= TIMESTAMP '1995-03-01' AND l_shipdate < TIMESTAMP '1995-06-01')
           |   OR (l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-04-01')
           |GROUP BY 1
           |ORDER BY 1""".stripMargin,
      // §2.9 WEEK granularity (Druid granularity=WEEK) — weeks are not
      // month-aligned, so only the day-grain lattice node can serve this:
      // trunc-to-Monday applies on the reconstructed date, exact
      "q_time_week" ->
        s"""SELECT CAST(CAST(date_trunc('week', l_shipdate) AS DATE) AS VARCHAR(10)) AS wk,
           |  l_returnflag, count(*) AS cnt, ${dec("l_quantity")} AS sum_qty
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           |GROUP BY 1, 2
           |ORDER BY 1, 2""".stripMargin,
      // §2.9 time extraction functions
      "q_time_extract" ->
        s"""SELECT CAST(year(l_shipdate) AS INTEGER) AS y,
           |  CAST(quarter(l_shipdate) AS INTEGER) AS q,
           |  CAST(month(l_shipdate) AS INTEGER) AS m,
           |  count(*) AS cnt
           |FROM lineitem
           |GROUP BY 1, 2, 3
           |ORDER BY 1, 2, 3""".stripMargin,
      // §2.8/§2.9 date-time scalar surface (reference SparkNativeTimeElement
      // extractor + sparklinedata date UDF library, DateTimeExtractor.scala)
      "q_scalar_datetime" ->
        s"""SELECT o_orderkey,
           |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR(10)) AS od,
           |  CAST(year(o_orderdate) AS INTEGER) AS y,
           |  CAST(month(o_orderdate) AS INTEGER) AS m,
           |  CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
           |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
           |  CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL '30' DAY AS DATE) AS VARCHAR(10)) AS d30,
           |  CAST(CAST(date_trunc('quarter', o_orderdate) AS DATE) AS VARCHAR(10)) AS qstart
           |FROM orders
           |WHERE o_orderkey <= 300
           |ORDER BY o_orderkey""".stripMargin,
      // §2.4 filtered aggregation (reference FilteredAggregationSpec —
      // declared in its IR but never wired; native FILTER clause here)
      "q_filtered_agg" ->
        s"""SELECT l_returnflag,
           |  count(*) AS cnt,
           |  count(*) FILTER (WHERE l_quantity > 25.0) AS cnt_bulk,
           |  ${dec("l_extendedprice")} AS sum_all,
           |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS sum_disc
           |FROM lineitem
           |GROUP BY l_returnflag
           |ORDER BY l_returnflag""".stripMargin,
      // §4.2 Druid "search query" shape: distinct values of one dimension
      // under a filter — the reference turns a no-agg single-dim groupBy
      // into a search query (SearchQuerySpecTransform); ours is native
      // distinct with pushdown
      "q_search_distinct" ->
        s"""SELECT DISTINCT p_brand
           |FROM part
           |WHERE p_name LIKE '%ol%'
           |ORDER BY p_brand""".stripMargin,
      // §2.5 window functions (beyond reference parity; native in Spark)
      "q_window_running" ->
        s"""SELECT l_suppkey, l_orderkey, l_linenumber,
           |  CAST(row_number() OVER (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber) AS BIGINT) AS rn,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6)))
           |       OVER (PARTITION BY l_suppkey ORDER BY l_orderkey, l_linenumber
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_qty
           |FROM lineitem
           |WHERE l_suppkey <= 5
           |ORDER BY l_suppkey, rn""".stripMargin,
      "q_window_rank" ->
        s"""SELECT c_mktsegment, c_custkey, c_acctbal, rnk FROM (
           |  SELECT c_mktsegment, c_custkey, c_acctbal,
           |    CAST(rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk
           |  FROM customer) t
           |WHERE rnk <= 3
           |ORDER BY c_mktsegment, rnk, c_custkey""".stripMargin,
      // §2.6 top-k: single-dim group + order-by-metric + small limit
      // (reference TopN rewrite — we do the exact TakeOrderedAndProject form)
      "q_topn_suppliers" ->
        s"""SELECT l_suppkey, ${dec("l_extendedprice")} AS volume
           |FROM lineitem
           |GROUP BY l_suppkey
           |ORDER BY volume DESC, l_suppkey
           |LIMIT 7""".stripMargin,
      // §2.3 scalar-subquery pattern (reference PushGB motivation)
      "q_scalar_subquery" ->
        s"""SELECT l_returnflag, count(*) AS cnt
           |FROM lineitem
           |WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem)
           |GROUP BY l_returnflag
           |ORDER BY l_returnflag""".stripMargin)
  }

  /** Reference-compat date-time UDF surface (§2.8/§2.11): the Spark side is
    * written against the [[graft.functions.DateTimeCompat]] function
    * library — the exact names the reference registers into every session
    * and uses throughout its own test SQL — while the oracle re-states the
    * semantics in plain DuckDB SQL. Spark text != oracle text here by
    * necessity (DuckDB has no `dateIsBefore`), so these live outside the
    * shared-text query objects.
    */
  object CompatQueries {
    private def dec(expr: String) = s"CAST(sum(CAST($expr AS DECIMAL(28,6))) AS DOUBLE)"

    /** reference-style interval predicate built from the UDF algebra
      * (`DruidRewritesCTest.scala:67`-style); constant-folds to
      * `l_shipdate >= '1995-12-01' AND < '1996-12-01'` so time-bucket
      * pruning fires exactly as with native literals
      */
    val sparkSql: Map[String, String] = Map(
      "q_compat_datetime" ->
        s"""SELECT CAST(year(dateTime(l_shipdate)) AS INTEGER) AS y,
           |  CAST(monthOfYear(dateTime(l_shipdate)) AS INTEGER) AS m,
           |  monthOfYearName(dateTime(l_shipdate)) AS mname,
           |  count(*) AS cnt, ${dec("l_quantity")} AS sum_qty
           |FROM lineitem
           |WHERE dateIsAfterOrEqual(dateTime(l_shipdate),
           |        datePlus(dateTime('1995-06-01'), period('P6M')))
           |  AND dateIsBefore(dateTime(l_shipdate),
           |        dateMinus(dateTime('1997-01-01'), period('P31D')))
           |GROUP BY 1, 2, 3
           |ORDER BY 1, 2""".stripMargin,
      // §2.2 RegexFilterSpec / StringContainsSpec surface (rlike + contains;
      // DuckDB spells them regexp_matches/contains, hence the split text)
      "q_filters_regex" ->
        s"""SELECT p_brand, count(*) AS cnt
           |FROM part
           |WHERE p_type RLIKE '^(SM|MED).*M$$'
           |   OR (contains(p_name, 'bolt') AND p_size >= 20)
           |GROUP BY p_brand
           |ORDER BY p_brand""".stripMargin,
      "q_compat_extractors" ->
        s"""SELECT o_orderkey,
           |  era(dateTime(o_orderdate)) AS e,
           |  CAST(centuryOfEra(dateTime(o_orderdate)) AS INTEGER) AS cen,
           |  CAST(yearOfCentury(dateTime(o_orderdate)) AS INTEGER) AS yc,
           |  CAST(weekyear(dateTime(o_orderdate)) AS INTEGER) AS wy,
           |  CAST(weekOfWeekyear(dateTime(o_orderdate)) AS INTEGER) AS wk,
           |  CAST(dayOfWeek(dateTime(o_orderdate)) AS INTEGER) AS dow,
           |  dayOfWeekName(dateTime(o_orderdate)) AS dname,
           |  CAST(dayOfYear(dateTime(o_orderdate)) AS INTEGER) AS doy,
           |  CAST(hourOfDay(datePlus(dateTime(o_orderdate), period('PT7H30M'))) AS INTEGER) AS h,
           |  CAST(minuteOfHour(datePlus(dateTime(o_orderdate), period('PT7H30M'))) AS INTEGER) AS mi
           |FROM orders
           |WHERE o_orderkey <= 300
           |ORDER BY o_orderkey""".stripMargin)

    val oracles: Map[String, String] = Map(
      "q_compat_datetime" ->
        s"""SELECT CAST(year(l_shipdate) AS INTEGER) AS y,
           |  CAST(month(l_shipdate) AS INTEGER) AS m,
           |  monthname(l_shipdate) AS mname,
           |  count(*) AS cnt, ${dec("l_quantity")} AS sum_qty
           |FROM lineitem
           |WHERE l_shipdate >= TIMESTAMP '1995-12-01'
           |  AND l_shipdate < TIMESTAMP '1996-12-01'
           |GROUP BY 1, 2, 3
           |ORDER BY 1, 2""".stripMargin,
      "q_filters_regex" ->
        s"""SELECT p_brand, count(*) AS cnt
           |FROM part
           |WHERE regexp_matches(p_type, '^(SM|MED).*M$$')
           |   OR (contains(p_name, 'bolt') AND p_size >= 20)
           |GROUP BY p_brand
           |ORDER BY p_brand""".stripMargin,
      "q_compat_extractors" ->
        """SELECT o_orderkey,
          |  'AD' AS e,
          |  CAST(year(o_orderdate) // 100 AS INTEGER) AS cen,
          |  CAST(year(o_orderdate) % 100 AS INTEGER) AS yc,
          |  CAST(isoyear(o_orderdate) AS INTEGER) AS wy,
          |  CAST(weekofyear(o_orderdate) AS INTEGER) AS wk,
          |  CAST(isodow(o_orderdate) AS INTEGER) AS dow,
          |  dayname(o_orderdate) AS dname,
          |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
          |  CAST(7 AS INTEGER) AS h,
          |  CAST(30 AS INTEGER) AS mi
          |FROM orders
          |WHERE o_orderkey <= 300
          |ORDER BY o_orderkey""".stripMargin)
  }

  /** Training-data pipeline operators (dedup / similarity / text analysis /
    * events) over the `documents`, `embeddings` and `events` tables. Where
    * the semantics are SQL-expressible the DuckDB oracle re-implements the
    * *same algorithm* independently (e.g. the language-ID heuristic and the
    * n-gram Jaccard join are written twice); hash-based operators (MinHash /
    * SimHash / xxhash fingerprints) have no DuckDB equivalent, except that
    * LSH dedup is checked against the exact n-gram join — LSH recall on
    * this data is total, which the spec also asserts.
    */
  object PipelineQueries {
    import graft.functions.TextFunctions._
    import graft.operators.{Bpe, Corpus, Dedup, Profile, Quality, Sampling, Similarity, Vectors}

    private def dec(expr: String) = s"CAST(sum(CAST($expr AS DECIMAL(28,6))) AS DOUBLE)"

    /** Trained IVF centroids per sf dir — index-build ETL, computed once
      * (training is deterministic, so the memo never changes a result).
      */
    private val kmeansMemo =
      scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Double]]]
    def kmeansCentroids(s: SparkSession, dir: String): Seq[Seq[Double]] =
      kmeansMemo.getOrElseUpdate(dir,
        Similarity.trainKmeansCentroids(
          Tables.t(s, dir, "embeddings"), "embedding", k = 16, iters = 3))

    /** Reclustered-store centroids per store path. The maintenance cycle
      * is BUILD-ONCE per content-tagged path like every shared artifact
      * here (a per-run rewrite would race a concurrent driver JVM on the
      * same testdata — the swap locks are in-JVM only); the centroids
      * that built the final layout persist in a sidecar file, so later
      * runs serve without retraining or rewriting anything.
      */
    private[graft] val reclusterMemo =
      scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Double]]]
    // q_ann_pinned's pin id per store (marker-backed; the pin itself is a
    // durable file a fresh JVM re-resolves by id)
    private[graft] val pinMemo =
      scala.collection.concurrent.TrieMap.empty[String, String]
    // temp-write + ATOMIC_MOVE (r13 ADVICE): a crash mid-write must never
    // leave a partial sidecar that exists() and parses to fewer than k
    // centroids — a later run would then serve with nprobe < the layout's
    // bucket count, silently dropping rows from unprobed buckets
    private def writeCentroids(f: java.io.File,
                               cs: Seq[Seq[Double]]): Unit = {
      val tmp = new java.io.File(f.getPath + ".tmp").toPath
      java.nio.file.Files.writeString(tmp,
        cs.map(_.mkString(",")).mkString("\n"))
      java.nio.file.Files.move(tmp, f.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    private def readCentroids(f: java.io.File): Seq[Seq[Double]] =
      java.nio.file.Files.readString(f.toPath).split("\n").toSeq
        .map(_.split(",").toSeq.map(_.toDouble))
    /** Sidecar centroids, validated against the STORE's actual bucket
      * directories before serving (belt-and-braces under the atomic
      * write): every `g_ivf_bucket=<b>` partition must be probeable, i.e.
      * `b < cents.size`, and all centroids must share one dimension.
      * Returns None for a missing, unparsable, or layout-inconsistent
      * sidecar — the caller rebuilds the cycle.
      */
    private def readValidCentroids(storePath: String)
        : Option[Seq[Seq[Double]]] = {
      val f = new java.io.File(storePath + ".centroids.txt")
      if (!f.exists()) return None
      // the WHOLE validation runs inside the Try: an unparsable sidecar
      // or a non-numeric bucket partition dir (e.g. the Hive default
      // partition from a null assignment) must return None → rebuild,
      // never throw out of the gate
      scala.util.Try {
        val cs = readCentroids(f)
        val bucketDirs = Option(new java.io.File(storePath).listFiles())
          .toSeq.flatten.map(_.getName)
          .filter(_.startsWith("g_ivf_bucket="))
          .map(_.stripPrefix("g_ivf_bucket=").toInt)
        if (cs.nonEmpty && cs.map(_.size).distinct.size == 1 &&
            bucketDirs.nonEmpty && bucketDirs.forall(_ < cs.size))
          Some(cs)
        else None
      }.toOption.flatten
    }

    /** DuckDB restatement of `q_ann_kmeans`, buildable only after training
      * ran: the Lloyd iterations are deterministic but seed by xxhash64
      * order, which has no SQL restatement — so the TRAINED centroids are
      * inlined as double literals (shortest-round-trip formatting, which
      * both engines parse back to the identical bits). Verify executes
      * every query before dumping `oracleSql`, so the memo holds exactly
      * the centroids of the run's sf dir. Everything downstream — nprobe
      * centroid choice, argmin bucket assignment (first-min tie-break),
      * exact cosine rerank — is replayed in SQL, so the IVF approximation
      * itself is differentially verified instead of rows-only. Emitted
      * only when the memo is unambiguous (exactly one trained dir).
      */
    def annKmeansOracle: Map[String, String] =
      (if (kmeansMemo.size == 1) kmeansMemo.values.headOption else None)
        .map { cents =>
          val rows = cents.zipWithIndex
            .map { case (c, i) => s"($i, [${c.mkString(", ")}])" }
            .mkString(",\n  ")
          val sql =
            s"""WITH cents(cid, cv) AS (VALUES
               |  $rows),
               |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
               |probed AS (SELECT cid FROM cents, q
               |  ORDER BY ${sqDistSql("q.qvec", "cv")}, cid LIMIT 3),
               |d AS (SELECT e.vec_id, e.embedding, c.cid,
               |    ${sqDistSql("e.embedding", "c.cv")} AS dist
               |  FROM embeddings e CROSS JOIN cents c),
               |a AS (SELECT vec_id, embedding, cid,
               |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
               |  FROM d),
               |sel AS (SELECT vec_id, embedding FROM a
               |  WHERE rn = 1 AND cid IN (SELECT cid FROM probed))
               |SELECT s.vec_id, ${cosineSql("s.embedding", "q.qvec")} AS cosine
               |FROM sel s, q
               |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
          // the batched probe restated: per-query probed buckets via a
          // ranked cross join against the centroid literals, the same
          // store-row assignment, bucket equi-join, per-query top-k
          val batchSql =
            s"""WITH cents(cid, cv) AS (VALUES
               |  $rows),
               |q AS (SELECT vec_id AS q_id, embedding AS qvec
               |  FROM embeddings WHERE vec_id < 8),
               |pd AS (SELECT q.q_id, c.cid, row_number() OVER (
               |    PARTITION BY q.q_id
               |    ORDER BY ${sqDistSql("q.qvec", "c.cv")}, c.cid) AS rn
               |  FROM q CROSS JOIN cents c),
               |probed AS (SELECT q_id, cid FROM pd WHERE rn <= 3),
               |d AS (SELECT e.vec_id, e.embedding, c.cid,
               |    ${sqDistSql("e.embedding", "c.cv")} AS dist
               |  FROM embeddings e CROSS JOIN cents c),
               |a AS (SELECT vec_id, embedding, cid,
               |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
               |  FROM d),
               |sel AS (SELECT vec_id, embedding, cid FROM a WHERE rn = 1),
               |cand AS (SELECT p.q_id, s.vec_id, s.embedding
               |  FROM sel s JOIN probed p ON s.cid = p.cid),
               |cc AS (SELECT c.q_id, c.vec_id,
               |    ${cosineSql("c.embedding", "q.qvec")} AS cosine
               |  FROM cand c JOIN q ON c.q_id = q.q_id),
               |r AS (SELECT q_id, vec_id, cosine, row_number() OVER (
               |    PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rn
               |  FROM cc)
               |SELECT q_id, vec_id, cosine FROM r WHERE rn <= 5
               |ORDER BY q_id, cosine DESC, vec_id""".stripMargin
          // the store serves the SAME answer, so the same SQL verifies both
          // the computed-bucket route (q_ann_kmeans) and the materialized
          // partition-pruned index route (q_ann_store)
          Map("q_ann_kmeans" -> sql, "q_ann_store" -> sql,
            "q_ann_store_batch" -> batchSql)
        }.getOrElse(Map.empty)

    /** [[graft.operators.Vectors.sqDist]] restated: the sequential
      * `acc + (a_i-b_i)^2` fold equals DuckDB's in-order list_sum.
      */
    private def sqDistSql(a: String, b: String): String =
      s"""list_sum(list_transform(generate_series(1, len($a)),
         |  i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) *
         |       (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))""".stripMargin

    /** Trained + cached bigram LM per sf dir — like the centroids, model
      * training is ETL: train once, persist the counts (bigram-vocabulary
      * sized), score many. Deterministic, so the memo never changes a
      * result.
      */
    private val lmMemo =
      scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    def bigramLmFor(s: SparkSession, dir: String): DataFrame =
      lmMemo.getOrElseUpdate(dir,
        Quality.bigramLm(Tables.t(s, dir, "documents"), "text").persist())

    /** Learned BPE merge table per sf dir — tokenizer-training ETL,
      * deterministic, so the memo never changes a result.
      */
    private val bpeMemo =
      scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]
    def bpeMerges(s: SparkSession, dir: String): Seq[(String, String)] =
      bpeMemo.getOrElseUpdate(dir,
        Bpe.learnMerges(Tables.t(s, dir, "documents"), "text",
          nMerges = 24, minFreq = 2))

    /** Fixture blobs for the real-codec media gates: one payload per
      * gated document, ENCODED from its (doc_id, text length) so the
      * DuckDB oracle can restate exactly what a correct parse of the
      * bytes must recover.
      */
    def mediaBlobs(s: SparkSession, dir: String)
                  (mk: (Long, Int) => graft.operators.Multimodal.MediaBlob)
        : DataFrame = {
      import s.implicits._
      Tables.t(s, dir, "documents")
        .filter(col("doc_id") < 120)
        .select(col("doc_id"), length(col("text")).cast("int").as("len"))
        .as[(Long, Int)]
        .map { case (id, len) => mk(id, len) }
        .toDF()
    }

    /** Trained BPE vocabulary per sf dir (symbol → dense id) — derived
      * deterministically from the merges + corpus, tokenizer-sized.
      */
    private val bpeVocabMemo =
      scala.collection.concurrent.TrieMap.empty[String, Seq[(String, Int)]]
    def bpeVocab(s: SparkSession, dir: String): Seq[(String, Int)] =
      bpeVocabMemo.getOrElseUpdate(dir,
        Bpe.vocab(Tables.t(s, dir, "documents"), "text", bpeMerges(s, dir)))

    /** DuckDB restatement of `q_bpe_encode`, buildable only after training
      * ran (same pattern as [[annKmeansOracle]]): the learned merges are
      * inlined and the ENTIRE encode — per-char symbolize, sentinel
      * prefixes, the rank-ordered `replace` chain — replays in SQL, so the
      * whole tokenization (not just counts) is hash-verified. Possible
      * because both engines' `replace` is left-to-right non-overlapping,
      * which IS BPE's greedy merge order.
      */
    /** The encode-replay SQL shared by [[bpeOracle]] and
      * [[bpeBatchedOracle]]: symbolize + the rank-ordered `replace` chain
      * of an inlined merge table, over the gated docs.
      */
    private def encodeReplaySql(merges: Seq[(String, String)]): String = {
      val s = Bpe.S
      def esc(x: String) = x.replace("'", "''")
      // symbols are space-TERMINATED (see Bpe.wordSym): pattern and
      // replacement carry the trailing space so matches are bounded on
      // both sides
      val chain = merges.foldLeft("sym") { case (acc, (l, r)) =>
        s"replace($acc, '$s${esc(l)} $s${esc(r)} ', '$s${esc(l)}${esc(r)} ')"
      }
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split_regex(lower(replace(text, '$s', '')), '\\s+'), x -> x <> '') AS toks
         |  FROM documents WHERE doc_id < 100),
         |sy AS (SELECT doc_id,
         |    array_to_string(list_transform(toks, w ->
         |      array_to_string(list_transform(regexp_split_to_array(w, ''),
         |        c -> '$s' || c || ' '), '') || '$s</w> '), '') AS sym
         |  FROM t),
         |e AS (SELECT doc_id, $chain AS bpe_sym FROM sy)
         |SELECT doc_id, bpe_sym,
         |  CAST(length(bpe_sym) - length(replace(bpe_sym, '$s', '')) AS BIGINT) AS n_bpe
         |FROM e ORDER BY doc_id""".stripMargin
    }

    def bpeOracle: Option[(String, String)] =
      (if (bpeMemo.size == 1) bpeMemo.values.headOption else None)
        .map(merges => "q_bpe_encode" -> encodeReplaySql(merges))

    /** BATCHED-trainer merges per sf dir (batch=8): the job-count-bounded
      * trainer's table, oracle-gated exactly like the sequential one —
      * the whole batched encode replays in SQL over its inlined table.
      */
    private val bpeBatchedMemo =
      scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]
    def bpeBatchedMerges(s: SparkSession, dir: String): Seq[(String, String)] =
      bpeBatchedMemo.getOrElseUpdate(dir,
        Bpe.learnMergesBatched(Tables.t(s, dir, "documents"), "text",
          nMerges = 24, minFreq = 2, batch = 8))

    def bpeBatchedOracle: Option[(String, String)] =
      (if (bpeBatchedMemo.size == 1) bpeBatchedMemo.values.headOption else None)
        .map(merges => "q_bpe_batched" -> encodeReplaySql(merges))

    /** Replay of id-encoding (same memo gate): the oracle re-derives the
      * VOCABULARY itself — distinct symbols of the encoded full corpus,
      * dense ids in sorted order — then re-encodes the gated docs to ids,
      * so both the id assignment and the per-position lookup verify.
      */
    def bpeIdsOracle: Option[(String, String)] =
      bpeOracle.map { case (_, _) =>
        val merges = bpeMemo.values.head
        val s = Bpe.S
        def esc(x: String) = x.replace("'", "''")
        val chain = merges.foldLeft("sym") { case (acc, (l, r)) =>
          s"replace($acc, '$s${esc(l)} $s${esc(r)} ', '$s${esc(l)}${esc(r)} ')"
        }
        "q_bpe_ids" ->
          s"""WITH t AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(replace(text, '$s', '')), '\\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |sy AS (SELECT doc_id,
             |    array_to_string(list_transform(toks, w ->
             |      array_to_string(list_transform(regexp_split_to_array(w, ''),
             |        c -> '$s' || c || ' '), '') || '$s</w> '), '') AS sym
             |  FROM t),
             |stripped AS (SELECT doc_id,
             |    list_filter(string_split(replace($chain, '$s', ''), ' '), x -> x <> '') AS syms
             |  FROM sy),
             |v AS (SELECT DISTINCT unnest(syms) AS sym FROM stripped),
             |vid AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS INT) AS id FROM v),
             |ex AS (SELECT doc_id, i, syms[i] AS sym FROM stripped,
             |    unnest(generate_series(1, len(syms))) AS u(i)
             |  WHERE doc_id < 50),
             |j AS (SELECT ex.doc_id, ex.i, vid.id FROM ex JOIN vid USING (sym)),
             |agg AS (SELECT doc_id, string_agg(CAST(id AS VARCHAR), ',' ORDER BY i) AS ids_csv
             |  FROM j GROUP BY doc_id)
             |SELECT st.doc_id, coalesce(a.ids_csv, '') AS ids_csv
             |FROM stripped st LEFT JOIN agg a USING (doc_id)
             |WHERE st.doc_id < 50 ORDER BY st.doc_id""".stripMargin
      }

    /** Full replay of BPE-budget sequence packing (same memo gate as
      * [[bpeOracle]]): per-document BPE token counts from the inlined
      * merge chain feed the exclusive-prefix-sum bin assignment — the
      * whole encode→count→pack composition is hash-verified.
      */
    def bpePackOracle: Option[(String, String)] =
      bpeOracle.map { case (_, _) =>
        val merges = bpeMemo.values.head
        val s = Bpe.S
        def esc(x: String) = x.replace("'", "''")
        val chain = merges.foldLeft("sym") { case (acc, (l, r)) =>
          s"replace($acc, '$s${esc(l)} $s${esc(r)} ', '$s${esc(l)}${esc(r)} ')"
        }
        "q_pack_bpe" ->
          s"""WITH t AS (SELECT doc_id,
             |    list_filter(string_split_regex(lower(replace(text, '$s', '')), '\\s+'), x -> x <> '') AS toks
             |  FROM documents),
             |sy AS (SELECT doc_id,
             |    array_to_string(list_transform(toks, w ->
             |      array_to_string(list_transform(regexp_split_to_array(w, ''),
             |        c -> '$s' || c || ' '), '') || '$s</w> '), '') AS sym
             |  FROM t),
             |n AS (SELECT doc_id, CAST(length($chain) - length(replace($chain, '$s', '')) AS BIGINT) AS n_tokens
             |  FROM sy)
             |SELECT doc_id, n_tokens,
             |  CAST(floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096.0) AS BIGINT) AS bin_id
             |FROM n ORDER BY doc_id""".stripMargin
      }

    /** Materialized n-gram near-dup pair index over `documents` — see
      * [[graft.operators.Dedup.materializedNgramPairs]].
      */
    def ngramPairsIndex(s: SparkSession, dir: String): DataFrame = {
      val t = 0.8
      // the path encodes the index identity (corpus + threshold) — the
      // artifact is never parameter-checked after it exists
      Dedup.materializedNgramPairs(Tables.t(s, dir, "documents"),
        "doc_id", "text", threshold = t,
        path = s"${Graft.targetDir}/indexes/ngram_pairs_" +
          s"${new java.io.File(dir).getName}_${Tables.contentTag(dir)}" +
          s"_t${(t * 100).toInt}_v1")
    }

    /** DuckDB list literal of a marker set, kept in lockstep with
      * [[graft.functions.TextFunctions.langMarkers]].
      */
    private def sqlList(words: Seq[String]): String =
      words.map(w => s"'$w'").mkString("[", ",", "]")

    /** The language-ID heuristic re-stated in DuckDB SQL (independent
      * implementation of the same algorithm, marker sets shared).
      */
    private val langIdOracle: String = {
      val langs = Seq("en", "es", "de", "fr")
      val scores = langs.map(l =>
        s"len(list_filter(w, t -> list_contains(${sqlList(langMarkers(l))}, t))) s_$l").mkString(",\n  ")
      val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
      val picks = langs.map(l => s"WHEN s_$l = $best THEN '$l'").mkString(" ")
      s"""WITH s AS (SELECT doc_id, text, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') w FROM documents),
         |sc AS (SELECT doc_id, text,
         |  $scores
         |FROM s)
         |SELECT CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |  WHEN $best = 0 THEN 'und'
         |  $picks END AS predicted, count(*) AS cnt
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin
    }

    /** The whole curation chain (lang gate → diversity gate → exact dedup →
      * chunking → per-source stats) re-stated in one DuckDB query — the
      * differential oracle for `q_pipeline_e2e`'s COMPOSITION.
      */
    private val pipelineE2eOracle: String = {
      val langs = Seq("en", "es", "de", "fr")
      val scores = langs.map(l =>
        s"len(list_filter(w, t -> list_contains(${sqlList(langMarkers(l))}, t))) s_$l").mkString(",\n  ")
      val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
      val picks = langs.map(l => s"WHEN s_$l = $best THEN '$l'").mkString(" ")
      s"""WITH s AS (SELECT doc_id, text, source, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') w FROM documents),
         |sc AS (SELECT doc_id, text, source, $scores FROM s),
         |lang AS (SELECT doc_id, text, source FROM sc
         |  WHERE (CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |    WHEN $best = 0 THEN 'und' $picks END) = 'en'),
         |good AS (SELECT * FROM lang
         |  WHERE CAST(len(list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS DOUBLE) /
         |        CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS DOUBLE) >= 0.5),
         |kept AS (SELECT g.doc_id, g.text, g.source FROM good g
         |  JOIN (SELECT md5(text) AS h, min(doc_id) AS doc_id FROM good GROUP BY 1) k
         |    ON g.doc_id = k.doc_id),
         |t AS (SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks FROM kept),
         |ch AS (SELECT doc_id, source, len(toks) AS n,
         |    unnest(generate_series(0,
         |      CAST(greatest(1, ceil(len(toks) / 64.0)) AS BIGINT) - 1)) AS i
         |  FROM t)
         |SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
         |  CAST(sum(least(n - i*64, 64)) AS BIGINT) AS n_tokens
         |FROM ch GROUP BY source ORDER BY source""".stripMargin
    }

    /** DuckDB FNV-1a over a blob alias `bytes`, as unsigned 64-bit in a
      * HUGEINT (DuckDB BIGINT mults raise on overflow; 128-bit arithmetic
      * reduced mod 2^64 reproduces Scala's wraparound Long exactly —
      * [[graft.operators.Multimodal.StubCodec.contentHash]]). Byte values
      * come from the hex rendering: DuckDB has no blob→byte-list primitive.
      */
    private val fnvSql: String =
      """list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        list_transform(range(octet_length(bytes)),
        |          i -> CAST(strpos('0123456789ABCDEF', substr(hex(bytes), CAST(2*i+1 AS INT), 1))*16
        |                  + strpos('0123456789ABCDEF', substr(hex(bytes), CAST(2*i+2 AS INT), 1)) - 17 AS HUGEINT))),
        |      (acc, c) -> (xor(acc, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT)""".stripMargin

    /** `StubCodec.decode`'s `mix(k)` over alias `fnv` (splitmix-style:
      * xor with k·0x9e3779b97f4a7c15, multiply by 0x2545f4914f6cdd1d, both
      * mod 2^64).
      */
    private def mixSql(k: Int): String =
      s"(xor(fnv, ($k * 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT)" +
        " * 2685821657736338717::HUGEINT) % 18446744073709551616::HUGEINT"

    /** DuckDB 3-token shingle-set expression over alias `w` (token list). */
    private val shingleSql =
      """CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |  ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(w[i:i+2], ' ')) END""".stripMargin

    /** Shared co-occurrence CTE chain: per-doc distinct shingles unnested
      * and equi-joined on the shingle STRING (no hashing — independent of
      * the engine's xxhash64 postings), so `c = |A∩B|` exactly and the
      * union is `szA + szB − c`. Same integers as the earlier
      * `len(list_intersect)` all-pairs form, bit-identical doubles — but
      * index-join cost instead of O(n²·|s|) list intersections, which
      * kept the sf0.1 once-per-round pass inside its oracle budget
      * (the all-pairs form exceeded 120 s per query there).
      */
    private val pairCtes: String =
      s"""toks AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') w FROM documents),
         |sh AS (SELECT doc_id, list_distinct($shingleSql) s FROM toks),
         |ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
         |com AS (SELECT a.doc_id AS idA, b.doc_id AS idB, a.sz AS szA, b.sz AS szB, count(*) AS c
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)""".stripMargin

    private val ngramPairsOracle: String =
      s"""WITH $pairCtes
         |SELECT idA, idB, jaccard FROM (
         |  SELECT idA, idB,
         |    CAST(c AS DOUBLE) / CAST(szA + szB - c AS DOUBLE) AS jaccard
         |  FROM com)
         |WHERE jaccard >= 0.8
         |ORDER BY idA, idB""".stripMargin

    /** Containment restated all-pairs: `|A∩B| / min(|A|,|B|)`, quote side =
      * the size-smaller document (ties: smaller id) — the independent
      * check of [[graft.operators.Dedup.ngramContainmentPairs]]'s inverted
      * index (at oracle scale no shingle exceeds the df cap, so the index
      * path is exact).
      */
    private val containmentOracle: String =
      s"""WITH $pairCtes
         |SELECT CASE WHEN szA <= szB THEN idA ELSE idB END AS quoteId,
         |  CASE WHEN szA <= szB THEN idB ELSE idA END AS containerId,
         |  containment
         |FROM (SELECT idA, idB, szA, szB,
         |    CAST(c AS DOUBLE) / CAST(least(szA, szB) AS DOUBLE) AS containment
         |  FROM com)
         |WHERE containment >= 0.9
         |ORDER BY quoteId, containerId""".stripMargin

    /** [[containmentOracle]] with the df CAP replayed (round 16): the
      * inverted index keeps only shingles whose corpus-wide document
      * frequency is ≤ 5 — a cap low enough to ENGAGE at oracle scale
      * (sf0.01 holds 29 shingles above it; sf0.1's natural max df is
      * 25), unlike the default 1000 which is inert there — while full
      * set sizes travel uncapped, exactly the engine's packing (only the
      * common-count of capped pairs shrinks,
      * `Dedup.coOccurringPairs`). Upgrades the skew guard's exact
      * semantics from spec-locked to driver-gated.
      */
    private val containmentCappedOracle: String =
      s"""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') w FROM documents),
         |sh AS (SELECT doc_id, list_distinct($shingleSql) s FROM toks),
         |ex AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
         |undercap AS (SELECT g FROM ex GROUP BY g HAVING count(*) <= 5),
         |com AS (SELECT a.doc_id AS idA, b.doc_id AS idB, a.sz AS szA, b.sz AS szB, count(*) AS c
         |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
         |  JOIN undercap u ON u.g = a.g
         |  GROUP BY 1, 2, 3, 4)
         |SELECT CASE WHEN szA <= szB THEN idA ELSE idB END AS quoteId,
         |  CASE WHEN szA <= szB THEN idB ELSE idA END AS containerId,
         |  containment
         |FROM (SELECT idA, idB, szA, szB,
         |    CAST(c AS DOUBLE) / CAST(least(szA, szB) AS DOUBLE) AS containment
         |  FROM com)
         |WHERE containment >= 0.9
         |ORDER BY quoteId, containerId""".stripMargin

    /** Duplicate clusters from the exact n-gram pairs: transitive closure by
      * a recursive CTE (min reachable id per node) — the independent
      * restatement of [[graft.operators.Dedup.connectedComponents]].
      */
    private val dedupClustersOracle: String =
      s"""WITH RECURSIVE $pairCtes,
         |pairs AS (SELECT idA, idB FROM com
         |  WHERE CAST(c AS DOUBLE) / CAST(szA + szB - c AS DOUBLE) >= 0.8),
         |edges AS (SELECT idA AS a, idB AS b FROM pairs
         |          UNION SELECT idB AS a, idA AS b FROM pairs),
         |cc AS (
         |  SELECT DISTINCT a AS node, a AS lbl FROM edges
         |  UNION
         |  SELECT e.a AS node, c.lbl AS lbl FROM edges e JOIN cc c ON e.b = c.node)
         |SELECT node AS doc_id, min(lbl) AS cluster_rep
         |FROM cc GROUP BY node ORDER BY doc_id""".stripMargin

    /** Leakage-safe split restatement: the same cluster CTE, split hash
      * keyed on `coalesce(cluster representative, doc_id)`.
      */
    private val splitLeakageOracle: String =
      s"""WITH RECURSIVE $pairCtes,
         |pairs AS (SELECT idA, idB FROM com
         |  WHERE CAST(c AS DOUBLE) / CAST(szA + szB - c AS DOUBLE) >= 0.8),
         |edges AS (SELECT idA AS a, idB AS b FROM pairs
         |          UNION SELECT idB AS a, idA AS b FROM pairs),
         |cc AS (
         |  SELECT DISTINCT a AS node, a AS lbl FROM edges
         |  UNION
         |  SELECT e.a AS node, c.lbl AS lbl FROM edges e JOIN cc c ON e.b = c.node),
         |reps AS (SELECT node, min(lbl) AS rep FROM cc GROUP BY node)
         |SELECT d.doc_id,
         |  ${graft.operators.Sampling.assignSplitSql("coalesce(r.rep, d.doc_id)",
             Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), 11)} AS split
         |FROM documents d LEFT JOIN reps r ON r.node = d.doc_id
         |ORDER BY d.doc_id""".stripMargin

    private val corpusDedupOracle: String =
      s"""WITH RECURSIVE $pairCtes,
         |pairs AS (SELECT idA, idB FROM com
         |  WHERE CAST(c AS DOUBLE) / CAST(szA + szB - c AS DOUBLE) >= 0.8),
         |edges AS (SELECT idA AS a, idB AS b FROM pairs
         |          UNION SELECT idB AS a, idA AS b FROM pairs),
         |cc AS (
         |  SELECT DISTINCT a AS node, a AS lbl FROM edges
         |  UNION
         |  SELECT e.a AS node, c.lbl AS lbl FROM edges e JOIN cc c ON e.b = c.node),
         |dropped AS (SELECT node FROM (SELECT node, min(lbl) AS rep FROM cc GROUP BY node)
         |            WHERE node <> rep)
         |SELECT doc_id, lang FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM dropped)
         |ORDER BY doc_id""".stripMargin

    /** Quality-chosen representative restatement: same cluster closure as
      * [[corpusDedupOracle]], winner per component by
      * (length(text) DESC, id) — the independent check of
      * [[graft.operators.Dedup.keptByQuality]].
      */
    private val corpusDedupBestOracle: String =
      s"""WITH RECURSIVE $pairCtes,
         |pairs AS (SELECT idA, idB FROM com
         |  WHERE CAST(c AS DOUBLE) / CAST(szA + szB - c AS DOUBLE) >= 0.8),
         |edges AS (SELECT idA AS a, idB AS b FROM pairs
         |          UNION SELECT idB AS a, idA AS b FROM pairs),
         |cc AS (
         |  SELECT DISTINCT a AS node, a AS lbl FROM edges
         |  UNION
         |  SELECT e.a AS node, c.lbl AS lbl FROM edges e JOIN cc c ON e.b = c.node),
         |members AS (SELECT node, min(lbl) AS comp FROM cc GROUP BY node),
         |ranked AS (SELECT m.node,
         |    row_number() OVER (PARTITION BY m.comp
         |      ORDER BY length(d.text) DESC, m.node) AS rn
         |  FROM members m JOIN documents d ON d.doc_id = m.node)
         |SELECT doc_id, lang FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM ranked WHERE rn > 1)
         |ORDER BY doc_id""".stripMargin

    /** Sequential-fold double dot product of two DuckDB float lists —
      * DuckDB's `list_sum` folds in index order, matching
      * [[graft.operators.Vectors.dot]] bit for bit.
      */
    private def dotSql(a: String, b: String): String =
      s"""list_sum(list_transform(generate_series(1, len($a)),
         |  i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))""".stripMargin

    /** `(a * c) mod 2^64` in DuckDB HUGEINT without overflowing INT128:
      * `a` can be any value < 2^64, so `a * c` for a 64-bit constant would
      * need 128 magnitude bits — split the constant hi/lo at 2^32 instead
      * (each partial stays < 2^96).
      */
    private def mulModSql(a: String, c: BigInt): String = {
      val hi = c >> 32
      val lo = c & 0xffffffffL
      s"((($a) * $lo::HUGEINT) % 18446744073709551616::HUGEINT + " +
        s"(((($a) * $hi::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT))" +
        " % 18446744073709551616::HUGEINT"
    }

    /** The splitmix64 hyperplane component over aliases `b` (bit) and `d`
      * (dimension) — the cross-engine restatement of
      * [[org.apache.spark.sql.graft.VectorExprs]]' `plane(42, b, d)`,
      * nested single-element-list lets standing in for local bindings.
      * Unsigned 64-bit state lives in HUGEINT; the final value converts to
      * SIGNED before the double division, matching Scala's `Long.toDouble`.
      */
    private val planeSql: String = {
      val m = "18446744073709551616::HUGEINT"
      s"""list_transform([(42*4294967297::HUGEINT + b*65537 + d + 11400714819323198485::HUGEINT) % $m], z0 ->
         | list_transform([${mulModSql("xor(z0, z0 // 1073741824::HUGEINT)", BigInt("bf58476d1ce4e5b9", 16))}], z1 ->
         |  list_transform([${mulModSql("xor(z1, z1 // 134217728::HUGEINT)", BigInt("94d049bb133111eb", 16))}], z2 ->
         |   list_transform([xor(z2, z2 // 2147483648::HUGEINT)], z3 ->
         |     (CASE WHEN z3 >= 9223372036854775808::HUGEINT THEN CAST(z3 - $m AS DOUBLE) ELSE CAST(z3 AS DOUBLE) END)
         |       / 9.223372036854776e18 / 2.0)[1])[1])[1])[1]""".stripMargin
    }

    /** CTE body computing each embedding's `nBits`-bit random-hyperplane
      * sign signature — bucket equality in the engine's xxhash64 LSH is
      * slice equality here, so the oracle needs no hash at all.
      */
    private def rhpSigsSql(nBits: Int): String =
      s"""SELECT vec_id, embedding,
         |    list_transform(range($nBits), b ->
         |      CASE WHEN list_sum(list_transform(range(len(embedding)), d ->
         |        CAST(embedding[CAST(d+1 AS INT)] AS DOUBLE) * $planeSql)) >= 0 THEN 1 ELSE 0 END) AS sig
         |  FROM embeddings""".stripMargin

    /** CosineExpr restated: the one-pass ab/aa/bb fold equals three
      * sequential list_sum folds, with the same zero-denominator guard.
      */
    private def cosineSql(a: String, b: String): String =
      s"""CASE WHEN sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}) = 0 THEN 0.0
         |    ELSE ${dotSql(a, b)} /
         |      (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})) END""".stripMargin

    private val simTopkOracle: String =
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT e.vec_id,
         |  ${dotSql("e.embedding", "q.qe")} /
         |  (sqrt(${dotSql("e.embedding", "e.embedding")}) *
         |   sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
         |FROM embeddings e, q)
         |SELECT vec_id, cosine FROM c ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

    val sparkQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "q_text_stats" -> { (s, dir) =>
        Tables.t(s, dir, "documents")
          .select(col("doc_id"),
            tokenCount(col("text")).as("n_tokens"),
            size(array_distinct(tokens(col("text")))).as("n_distinct"),
            col("n_chars"))
          .orderBy("doc_id")
      },
      // the full curation pipeline in one declarative plan: language gate →
      // lexical-diversity gate → exact dedup (min-id survivor) → context
      // chunking → per-source corpus accounting. Every stage is the same
      // operator the standalone queries gate; the oracle restates the whole
      // chain in SQL, so the COMPOSITION is differentially verified too.
      "q_pipeline_e2e" -> { (s, dir) =>
        val docs = Tables.t(s, dir, "documents")
        val kept = Dedup.exactTextDedup(
          docs.filter(langId(col("text")) === "en" &&
            distinctTokenRatio(col("text")) >= 0.5),
          "doc_id", "text")
        Corpus.chunk(kept, "doc_id", "text", chunkTokens = 64)
          .join(broadcast(docs.select("doc_id", "source")), Seq("doc_id"))
          .groupBy("source")
          .agg(count_distinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_chunks"),
            sum(col("n_tokens")).as("n_tokens"))
          .orderBy("source")
      },
      "q_text_quality" -> { (s, dir) =>
        Tables.t(s, dir, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            dsum(distinctTokenRatio(col("text"))).as("sum_diversity"),
            dsum(punctRatio(col("text"))).as("sum_punct"))
          .orderBy("source")
      },
      "q_lang_id" -> { (s, dir) =>
        Tables.t(s, dir, "documents")
          .groupBy(langId(col("text")).as("predicted"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("predicted")
      },
      // Gopher-style quality rules (Rae et al. 2021 §A1.1): scalar
      // well-formedness ratios + word-bigram repetition statistics, all in
      // ONE projection over one scan (the repetition stats are per-row
      // column algebra, so no join re-attaches them by id)
      "q_text_gopher" -> { (s, dir) =>
        Tables.t(s, dir, "documents")
          .select(col("doc_id"),
            Quality.meanWordLength(col("text")).as("mean_word_len"),
            Quality.alphaWordRatio(col("text")).as("alpha_word_ratio"),
            Quality.symbolWordRatio(col("text")).as("symbol_word_ratio"),
            Quality.ngramRepetitionCols(col("text"), n = 2).as("g_rep"))
          .select(col("doc_id"), col("mean_word_len"),
            col("alpha_word_ratio"), col("symbol_word_ratio"),
            col("g_rep.top_ngram_char_frac").as("top_ngram_char_frac"),
            col("g_rep.dup_ngram_char_frac").as("dup_ngram_char_frac"))
          .orderBy("doc_id")
      },
      // int8 embedding quantization (per-vector symmetric scale): scalar
      // summaries keep the differential compare type-stable across engines
      "q_vec_quant" -> { (s, dir) =>
        Tables.t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            Vectors.quantizeInt8(col("embedding")).as("qz"))
          .select(col("vec_id"),
            col("qz.scale").as("scale"),
            aggregate(col("qz.q"), lit(0L),
              (a, x) => a + x.cast("long")).as("q_sum"),
            aggregate(col("qz.q"), lit(0L),
              (a, x) => a + abs(x.cast("long"))).as("q_l1"),
            let1(Vectors.dequantize(col("qz.q"), col("qz.scale"))) { dq =>
              aggregate(zip_with(dq, col("embedding"), (d, o) => {
                val e = d - o.cast("double"); e * e
              }), lit(0.0), (a, x) => a + x)
            }.as("recon_sse"))
          .orderBy("vec_id")
      },
      "q_dedup_exact" -> { (s, dir) =>
        Dedup.exactTextDedup(Tables.t(s, dir, "documents"), "doc_id", "text")
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      "q_dedup_ngram" -> { (s, dir) =>
        Dedup.ngramJaccardDupPairs(Tables.t(s, dir, "documents"),
            "doc_id", "text", threshold = 0.8)
          .orderBy("idA", "idB")
      },
      // asymmetric containment (quote detection): smaller doc's shingles
      // mostly inside the larger — the pairs symmetric Jaccard misses
      "q_dedup_containment" -> { (s, dir) =>
        Dedup.ngramContainmentPairs(Tables.t(s, dir, "documents"),
            "doc_id", "text", threshold = 0.9)
          .orderBy("quoteId", "containerId")
      },
      // the df-cap (skew guard) with its semantics under oracle: cap 5
      // ENGAGES at both gate scales (the default 1000 is inert there) —
      // dropped posting lists shrink common counts while set sizes stay
      // full, and the oracle replays the capped inverted index in SQL
      "q_dedup_containment_capped" -> { (s, dir) =>
        Dedup.ngramContainmentPairs(Tables.t(s, dir, "documents"),
            "doc_id", "text", threshold = 0.9, maxShingleDf = Some(5))
          .orderBy("quoteId", "containerId")
      },
      "q_dedup_minhash" -> { (s, dir) =>
        Dedup.minhashDupPairs(Tables.t(s, dir, "documents"),
            "doc_id", "text", threshold = 0.8)
          .orderBy("idA", "idB")
      },
      // pairwise hits -> duplicate clusters (min-id representative): the
      // step a dedup pipeline actually keys its keep/drop decision on.
      // Consumes the MATERIALIZED pair index (build-once ETL, like the cube
      // and the trained IVF centroids): q_dedup_ngram times the pair
      // pipeline itself; the downstream decision queries read its artifact
      // the way a curation run does.
      "q_dedup_clusters" -> { (s, dir) =>
        Dedup.connectedComponents(ngramPairsIndex(s, dir), "idA", "idB")
          .select(col("node").as("doc_id"), col("component").as("cluster_rep"))
          .orderBy("doc_id")
      },
      // the end of the dedup pipeline: the KEPT corpus — every document
      // except non-representative members of a duplicate cluster (min-id
      // representative survives). This is the row-level decision a 100 TB
      // curation run ships: clusters stay small (dup groups), the anti-join
      // against them broadcasts.
      "q_corpus_dedup" -> { (s, dir) =>
        val docs = Tables.t(s, dir, "documents")
        val drop = Dedup.connectedComponents(ngramPairsIndex(s, dir), "idA", "idB")
          .filter(col("node") =!= col("component"))
          .select(col("node").as("doc_id"))
        docs.join(broadcast(drop), Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      // quality-chosen representatives: keep the LONGEST member of each
      // near-dup cluster (ties: smallest id) — the curation-grade keep
      // decision, vs q_corpus_dedup's min-id convention
      "q_corpus_dedup_best" -> { (s, dir) =>
        val docs = Tables.t(s, dir, "documents")
        val clusters = Dedup.connectedComponents(
          ngramPairsIndex(s, dir), "idA", "idB")
        Dedup.keptByQuality(docs, "doc_id", length(col("text")), clusters)
          .select(col("doc_id"), col("lang"))
          .orderBy("doc_id")
      },
      "q_sim_topk" -> { (s, dir) =>
        val embs = Tables.t(s, dir, "embeddings")
        val q = embs.filter(col("vec_id") === 0L).select(col("embedding").as("qe"))
        embs.crossJoin(broadcast(q))
          .select(col("vec_id"),
            Vectors.cosine(col("embedding"), col("qe")).as("cosine"))
          .orderBy(col("cosine").desc, col("vec_id"))
          .limit(10)
      },
      "q_events_window" -> { (s, dir) =>
        Tables.events(s, dir)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
          .select(col("window.start").cast("timestamp").cast("long").as("ws"),
            col("event_type"), col("cnt"), col("sum_value"))
          .orderBy("ws", "event_type")
      },
      "q_events_json" -> { (s, dir) =>
        Tables.events(s, dir)
          .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
            col("value"))
          .groupBy((col("k") % 10).as("kmod"))
          .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
          .orderBy("kmod")
      },
      // SimHash LSH dedup over the portable 62-bit double-poly signature:
      // pigeonhole blocking is recall-exact at hamming<=3 and the verify is
      // exact, so the LSH result EQUALS brute-force all-pairs — the oracle
      // restates it as an O(n²) cross join. (The native 64-bit xxhash64
      // SimHash twin keeps its ScalaTest differential in PipelineOpsSpec.)
      "q_dedup_simhash" -> { (s, dir) =>
        Dedup.simhashDupPairsPoly(Tables.t(s, dir, "documents"),
            "doc_id", "text", maxHamming = 3)
          .orderBy("idA", "idB")
      },
      // ---- hash-based / approximate: no DuckDB equivalent (rows-only) ----
      "q_dedup_embedding" -> { (s, dir) =>
        Dedup.embeddingDupPairs(Tables.t(s, dir, "embeddings"),
            "vec_id", "embedding", threshold = 0.9)
          .orderBy("idA", "idB")
      },
      // backward as-of join (§2.3 beyond-reference: the reference has no
      // as-of; DuckDB's native ASOF JOIN is the oracle): every purchase
      // event picks up the most recent view at-or-before it per user
      "q_asof_join" -> { (s, dir) =>
        import graft.operators.Joins
        val ev = Tables.events(s, dir)
        val purchases = ev
          .filter(col("event_type") === "purchase" && col("user_id") < 30)
          .select("user_id", "ts", "value")
        // right side unique per (user_id, ts): as-of is ill-defined on ties
        val views = Dedup.exactDedup(
            ev.filter(col("event_type") === "view"),
            "event_id", Seq(col("user_id"), col("ts")))
          .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
            col("value").as("v_val"))
        Joins.asofJoin(purchases, "user_id", "ts", views, "v_user", "v_ts",
            Seq("v_ts" -> "g_vts", "v_val" -> "v_value"))
          .filter(col("g_vts").isNotNull)
          .select(col("user_id"), unix_millis(col("ts")).as("p_ms"),
            col("value").as("p_value"), unix_millis(col("g_vts")).as("v_ms"),
            col("v_value"))
          .orderBy("user_id", "p_ms")
      },
      // raw query-spec execution (reference entry point 3): the serialized
      // groupBy descriptor against the registered cube; the DuckDB oracle
      // is the equivalent SQL over the base star tables
      "q_direct_spec" -> { (s, dir) =>
        engine(s, dir)
        val cube = TpchCube.ensure(s, dir)
        graft.cube.DirectQuery.execute(s, cube.info.name,
          """{"queryType": "groupBy",
            | "dimensions": ["c_mktsegment", "l_returnflag"],
            | "aggregations": [
            |   {"type": "count", "name": "cnt"},
            |   {"type": "doubleSum", "fieldName": "l_extendedprice", "name": "sum_price"},
            |   {"type": "doubleMax", "fieldName": "l_quantity", "name": "max_qty"}],
            | "filter": {"type": "bound", "dimension": "l_returnflag", "lower": "N"},
            | "intervals": ["1993-01-01/1998-01-01"]}""".stripMargin)
          .orderBy("c_mktsegment", "l_returnflag")
      },
      // round-7 descriptor surface in one gate query: extraction dimension
      // (substring), lookup-mapped dimension, a filtered aggregator, and a
      // regex filter — all restated in the DuckDB oracle (the approximate
      // cardinality/hyperUnique aggregators stay spec-locked: Spark's
      // HLL++ estimate has no cross-engine restatement)
      "q_direct_extraction" -> { (s, dir) =>
        engine(s, dir)
        val cube = TpchCube.ensure(s, dir)
        graft.cube.DirectQuery.execute(s, cube.info.name,
          """{"queryType": "groupBy",
            | "dimensions": [
            |   {"type": "extraction", "dimension": "p_type", "outputName": "t3",
            |    "extractionFn": {"type": "substring", "index": 0, "length": 3}},
            |   {"type": "extraction", "dimension": "l_returnflag", "outputName": "flag",
            |    "extractionFn": {"type": "lookup",
            |      "lookup": {"type": "map", "map": {"R": "returned", "A": "accepted"}},
            |      "replaceMissingValueWith": "other"}}],
            | "aggregations": [
            |   {"type": "count", "name": "cnt"},
            |   {"type": "filtered",
            |    "filter": {"type": "bound", "dimension": "l_quantity", "lower": "25"},
            |    "aggregator": {"type": "doubleSum", "fieldName": "l_quantity", "name": "hi_qty"}}],
            | "filter": {"type": "regex", "dimension": "c_mktsegment", "pattern": "^(BU|MA)"}}""".stripMargin)
          .orderBy("t3", "flag")
      },
      // Druid Select query: a raw event page (time + dims + metrics, paging
      // threshold); deterministic page via full-column ordering — same
      // multiset both engines, so it oracle-checks
      "q_direct_select" -> { (s, dir) =>
        engine(s, dir)
        val cube = TpchCube.ensure(s, dir)
        graft.cube.DirectQuery.execute(s, cube.info.name,
          """{"queryType": "select",
            | "dimensions": ["l_returnflag", "l_linestatus"],
            | "metrics": ["l_quantity", "l_extendedprice"],
            | "filter": {"type": "selector", "dimension": "l_returnflag", "value": "R"},
            | "intervals": ["1995-06-01/1995-06-08"],
            | "pagingSpec": {"threshold": 200}}""".stripMargin)
          .select(unix_millis(col("l_shipdate").cast("timestamp")).as("ts_ms"),
            col("l_returnflag"), col("l_linestatus"),
            col("l_quantity"), col("l_extendedprice"))
      },
      // Druid Scan query (Select's streaming successor): explicit column
      // list, limit, descending time order
      "q_direct_scan" -> { (s, dir) =>
        engine(s, dir)
        val cube = TpchCube.ensure(s, dir)
        graft.cube.DirectQuery.execute(s, cube.info.name,
          """{"queryType": "scan",
            | "columns": ["__time", "l_returnflag", "l_quantity"],
            | "filter": {"type": "selector", "dimension": "l_linestatus", "value": "F"},
            | "intervals": ["1995-06-01/1995-06-05"],
            | "order": "descending",
            | "batchSize": 4096,
            | "limit": 30}""".stripMargin)
          .select(unix_millis(col("l_shipdate").cast("timestamp")).as("ts_ms"),
            col("l_returnflag"), col("l_quantity"))
      },
      // Druid Search query: dimension values matching a substring spec,
      // with match counts — one scan for all searched dimensions
      "q_direct_search" -> { (s, dir) =>
        engine(s, dir)
        val cube = TpchCube.ensure(s, dir)
        graft.cube.DirectQuery.execute(s, cube.info.name,
          """{"queryType": "search",
            | "searchDimensions": ["c_mktsegment", "o_orderpriority"],
            | "query": {"type": "insensitive_contains", "value": "o"},
            | "intervals": ["1996-01-01/1997-01-01"]}""".stripMargin)
      },
      // Druid SegmentMetadata query: per-month-bucket (segment analog) row
      // counts and time cover of the cube
      "q_direct_segments" -> { (s, dir) =>
        engine(s, dir)
        val cube = TpchCube.ensure(s, dir)
        graft.cube.DirectQuery.execute(s, cube.info.name,
          """{"queryType": "segmentMetadata"}""")
      },
      // groupBy descriptor with the full Druid result-shaping surface:
      // postAggregations (arithmetic over agg results), having
      // (aggregation comparisons + logical combinators), limitSpec
      // (ordered columns + row limit)
      "q_direct_post" -> { (s, dir) =>
        engine(s, dir)
        val cube = TpchCube.ensure(s, dir)
        graft.cube.DirectQuery.execute(s, cube.info.name,
          """{"queryType": "groupBy",
            | "dimensions": ["c_mktsegment", "l_returnflag"],
            | "aggregations": [
            |   {"type": "count", "name": "cnt"},
            |   {"type": "doubleSum", "fieldName": "l_quantity", "name": "sum_qty"},
            |   {"type": "doubleSum", "fieldName": "l_extendedprice", "name": "sum_price"}],
            | "postAggregations": [
            |   {"type": "arithmetic", "name": "avg_qty", "fn": "/",
            |    "fields": [{"type": "fieldAccess", "fieldName": "sum_qty"},
            |               {"type": "fieldAccess", "fieldName": "cnt"}]},
            |   {"type": "arithmetic", "name": "scaled", "fn": "*",
            |    "fields": [{"type": "constant", "value": 0.5},
            |               {"type": "arithmetic", "fn": "-",
            |                "fields": [{"type": "fieldAccess", "fieldName": "sum_price"},
            |                           {"type": "fieldAccess", "fieldName": "sum_qty"}]}]}],
            | "having": {"type": "and", "havingSpecs": [
            |   {"type": "greaterThan", "aggregation": "cnt", "value": 100},
            |   {"type": "not", "havingSpec":
            |     {"type": "lessThan", "aggregation": "avg_qty", "value": 10}}]},
            | "limitSpec": {"type": "default", "limit": 8, "columns": [
            |   {"dimension": "avg_qty", "direction": "descending"},
            |   "c_mktsegment", "l_returnflag"]},
            | "intervals": ["1994-01-01/1997-01-01"]}""".stripMargin)
      },
      // topN with a lexicographic metric spec + previousStop pagination
      // (reference TopNMetricSpec, `DruidQuerySpec.scala:478-508`): the
      // dimension values after the stop, ascending — Druid's paged
      // dimension walk, exact here
      "q_direct_topn_lex" -> { (s, dir) =>
        engine(s, dir)
        val cube = TpchCube.ensure(s, dir)
        graft.cube.DirectQuery.execute(s, cube.info.name,
          """{"queryType": "topN", "dimension": "c_mktsegment",
            | "metric": {"type": "lexicographic", "previousStop": "AUTOMOBILE"},
            | "threshold": 3,
            | "aggregations": [
            |   {"type": "count", "name": "cnt"},
            |   {"type": "doubleSum", "fieldName": "l_quantity", "name": "sum_qty"}],
            | "intervals": ["1994-01-01/1997-01-01"]}""".stripMargin)
      },
      // native session_window sessions, batch form (same declaration runs
      // streaming; note the boundary: a gap of EXACTLY 30min starts a new
      // session — [start, last+gap) windows — where the custom sessionizer
      // merges it)
      "q_events_sessions_native" -> { (s, dir) =>
        import graft.streaming.EventPipeline
        EventPipeline.sessionWindowAgg(Tables.events(s, dir), gapMinutes = 30)
          .select(col("user_id"), unix_millis(col("start")).as("s_ms"),
            unix_millis(col("end")).as("e_ms"),
            col("nEvents").cast("long").as("n_events"),
            col("totalValue").as("total_value"))
          .orderBy("user_id", "s_ms")
      },
      // stream-stream attribution join, batch form — the same
      // EventPipeline.attributionJoin runs watermarked on streams
      // (StreamingSpec proves the streaming execution emits identical rows)
      "q_events_attrib" -> { (s, dir) =>
        import graft.streaming.EventPipeline
        val ev = Tables.events(s, dir)
        EventPipeline.attributionJoin(
            ev.filter(col("event_type") === "purchase" && col("user_id") < 30),
            ev.filter(col("event_type") === "view"), withinMinutes = 60)
          .select(col("user_id"), unix_millis(col("p_ts")).as("p_ms"),
            col("p_value"), unix_millis(col("v_ts")).as("v_ms"), col("v_value"))
          .orderBy("user_id", "p_ms", "v_ms")
      },
      // interval containment join via domain binning (§2.3 beyond-reference;
      // overlapping bands prove multi-match fan-out)
      "q_range_join" -> { (s, dir) =>
        import graft.operators.Joins
        val classic = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        import classic.implicits._
        val bands = Seq(
          ("low", -1000.0, 2000.0), ("mid", 1500.0, 6000.0),
          ("high", 5500.0, 9000.0), ("all", -1000.0, 10000.0))
          .toDF("band", "lo", "hi")
        Joins.rangeJoin(Tables.t(s, dir, "customer"), "c_acctbal",
            bands, "lo", "hi", binWidth = 1000.0)
          .groupBy("band")
          .agg(count(lit(1)).as("cnt"), dsum(col("c_acctbal")).as("sum_bal"))
          .orderBy("band")
      },
      // exact batched k-NN join (brute-force baseline; the LSH q_knn_join
      // below is the approximate scale path — its oracle REPLAYS the
      // splitmix hyperplanes and band joins, so both paths hash-verify)
      "q_knn_exact" -> { (s, dir) =>
        val embs = Tables.t(s, dir, "embeddings")
        val queries = embs.filter(col("vec_id") < 5L)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.knnJoinExact(embs, "vec_id", "embedding",
            queries, "qid", "qvec", k = 3)
          .orderBy(col("qid_q"), col("rank"))
      },
      "q_knn_join" -> { (s, dir) =>
        val embs = Tables.t(s, dir, "embeddings")
        val queries = embs.filter(col("vec_id") < 5L)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        Similarity.knnJoin(embs, "vec_id", "embedding",
            queries, "qid", "qvec", k = 3)
          .orderBy(col("qid_q"), col("rank"))
      },
      "q_ann_ivf" -> { (s, dir) =>
        val embs = Tables.t(s, dir, "embeddings")
        val q = embs.filter(col("vec_id") === 0L)
          .select("embedding").head().getSeq[Float](0)
        Similarity.ivfTopK(embs, "vec_id", "embedding", q, k = 10,
          nBits = 6, minMatchingBits = 4)
      },
      // IVF with trained (deterministic k-means) centroids — the other ANN
      // scale path; centroid training is index-build ETL, memoized like the
      // cube materialization. The ONLY remaining rows-only query: Lloyd
      // training sums in DECIMAL(30,15), and Spark's double→decimal cast
      // rounds the shortest-repr string while DuckDB rounds the exact
      // binary value — bit-divergent at scale 15 on float-derived doubles,
      // so no cross-engine restatement exists without changing training
      // semantics. PipelineOpsSpec's differentials (bit-reproducible
      // training, full-probe==exact) lock it instead.
      "q_ann_kmeans" -> { (s, dir) =>
        val embs = Tables.t(s, dir, "embeddings")
        val cents = kmeansCentroids(s, dir)
        val q = embs.filter(col("vec_id") === 0L)
          .select("embedding").head().getSeq[Float](0)
        Similarity.ivfKmeansTopK(embs, "vec_id", "embedding", q, k = 10,
          cents, nprobe = 3)
      },
      // the same probe against the MATERIALIZED bucket-partitioned index:
      // identical answer, but the probe is directory-level partition
      // pruning (the vector-index analog of the cube's time buckets)
      "q_ann_store" -> { (s, dir) =>
        val embs = Tables.t(s, dir, "embeddings")
        val cents = kmeansCentroids(s, dir)
        val q = embs.filter(col("vec_id") === 0L)
          .select("embedding").head().getSeq[Float](0)
        val store = Similarity.materializedIvfIndex(embs, "vec_id",
          "embedding", cents,
          s"${Graft.targetDir}/indexes/ivf_${new java.io.File(dir).getName}" +
            s"_${Tables.contentTag(dir)}_k16_v1")
        Similarity.ivfStoreTopK(store, "vec_id", "embedding", q, k = 10,
          cents, nprobe = 3)
      },
      // the BATCHED store probe — the serve shape a production reader
      // actually runs (rerank/eval/dedup pipelines probe in batches):
      // union-of-buckets partition pruning + bucket equi-join + per-query
      // top-k window, one scan for all 8 queries
      "q_ann_store_batch" -> { (s, dir) =>
        val embs = Tables.t(s, dir, "embeddings")
        val cents = kmeansCentroids(s, dir)
        val store = Similarity.materializedIvfIndex(embs, "vec_id",
          "embedding", cents,
          s"${Graft.targetDir}/indexes/ivf_${new java.io.File(dir).getName}" +
            s"_${Tables.contentTag(dir)}_k16_v1")
        Similarity.ivfStoreTopKBatch(store, "vec_id", "embedding",
            embs.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, cents, nprobe = 3)
          .orderBy(col("q_id"), col("cosine").desc, col("vec_id"))
      },
      // IVF store MAINTENANCE end-to-end: a store built under deliberately
      // COARSE centroids (k=2 — the drifted end state the skew probe
      // measures) is reclustered to k=8 and served at FULL probe. The
      // oracle is plain brute-force cosine top-10, so the gate proves the
      // cycle (build → recluster swap → serve) preserves the row set
      // exactly and the rewritten layout serves correct cosines. The
      // cycle is build-once per content-tagged path (sidecar carries the
      // layout's centroids; per-run rewrites would race concurrent driver
      // JVMs); PipelineOpsSpec re-runs the full drift→recluster cycle and
      // locks selectivity/balance/pruning every test run.
      "q_ann_recluster" -> { (s, dir) =>
        val embs = Tables.t(s, dir, "embeddings")
        val q = embs.filter(col("vec_id") === 0L)
          .select("embedding").head().getSeq[Float](0)
        val path =
          s"${Graft.targetDir}/indexes/ivf_recluster_" +
            s"${new java.io.File(dir).getName}_${Tables.contentTag(dir)}_v1"
        // the whole build-or-read block holds the store's MAINTENANCE
        // lock (r13 ADVICE lineage; r16: it must be the maintenance
        // lock, not the bare build lock — the ops called inside take
        // maintenance themselves, and holding build first would invert
        // materializedIvfIndex's maintenance → build order into an ABBA
        // deadlock against a direct operator-API caller): two driver
        // JVMs racing the FIRST build of this content-tagged path
        // serialize at the OS — the loser re-checks the sidecar inside
        // the lock and serves the winner's layout; re-entrancy lets the
        // nested ops re-take it on this thread
        val cents = reclusterMemo.getOrElseUpdate(path,
          graft.operators.Artifacts.maintenanceLocked(path) {
            readValidCentroids(path).getOrElse {
              val coarse = Similarity.trainKmeansCentroids(embs, "embedding",
                k = 2, iters = 2)
              Similarity.materializedIvfIndex(embs, "vec_id", "embedding",
                coarse, path)
              val fresh =
                Similarity.ivfRecluster(s, path, "embedding", k = 8, iters = 2)
              writeCentroids(new java.io.File(path + ".centroids.txt"),
                fresh) // atomic move; crash before it → rebuild
              fresh
            }
          })
        Similarity.ivfStoreTopK(s.read.parquet(path), "vec_id", "embedding",
          q, k = 10, cents, nprobe = cents.size)
      },
      // IVF INGEST → COMPACT end-to-end under the driver's oracle: a
      // store built from HALF the corpus absorbs the other half through
      // the append path (frozen centroids, `Similarity.ivfIngest`), is
      // compacted back to one file per bucket, and serves at FULL probe.
      // The oracle is brute-force cosine top-10 over base ∪ appended
      // (= the whole table), so the gate proves ingest dropped nothing,
      // compaction preserved the row multiset, and the compacted layout
      // serves exact cosines — the last leg of the
      // build → ingest → compact → recluster lifecycle to get a driver
      // gate (the others: q_ann_store, q_ann_recluster). Build-once per
      // content-tagged path under the OS build lock; a missing/invalid
      // sidecar rebuilds from EMPTY (the append step is not idempotent —
      // a crash between ingest and the sidecar write must not leave a
      // store that a rerun would append into twice).
      "q_ann_ingest_compact" -> { (s, dir) =>
        val embs = Tables.t(s, dir, "embeddings")
        val q = embs.filter(col("vec_id") === 0L)
          .select("embedding").head().getSeq[Float](0)
        val path =
          s"${Graft.targetDir}/indexes/ivf_ingest_" +
            s"${new java.io.File(dir).getName}_${Tables.contentTag(dir)}_v1"
        val cents = reclusterMemo.getOrElseUpdate(path,
          graft.operators.Artifacts.maintenanceLocked(path) {
            readValidCentroids(path).getOrElse {
              val st = new java.io.File(path)
              if (st.exists())
                org.apache.commons.io.FileUtils.deleteDirectory(st)
              val base = embs.filter(pmod(col("vec_id"), lit(2L)) === 0)
              val delta = embs.filter(pmod(col("vec_id"), lit(2L)) === 1)
              val cs = Similarity.trainKmeansCentroids(base, "embedding",
                k = 8, iters = 2)
              Similarity.materializedIvfIndex(base, "vec_id", "embedding",
                cs, path)
              Similarity.ivfIngest(delta, "embedding", cs, path)
              Similarity.ivfCompact(s, path)
              writeCentroids(new java.io.File(path + ".centroids.txt"), cs)
              cs
            }
          })
        Similarity.ivfStoreTopK(s.read.parquet(path), "vec_id", "embedding",
          q, k = 10, cents, nprobe = cents.size)
      },
      // IVF DELETE under the driver's oracle — the opt-out leg of the
      // lifecycle: a store of the full corpus has every vec_id ≡ 3
      // (mod 7) removed (`Similarity.ivfDelete`, broadcast anti-join +
      // crash-safe swap) and serves at FULL probe; the oracle is
      // brute-force cosine top-10 over the KEPT rows, so the gate proves
      // the delete removed exactly the requested ids and nothing else.
      // Build-once per content-tagged path; delete is idempotent, so the
      // marker-less crash windows just re-run the cycle.
      "q_ann_delete" -> { (s, dir) =>
        val embs = Tables.t(s, dir, "embeddings")
        val cents = kmeansCentroids(s, dir)
        val q = embs.filter(col("vec_id") === 0L)
          .select("embedding").head().getSeq[Float](0)
        val path =
          s"${Graft.targetDir}/indexes/ivf_delete_" +
            s"${new java.io.File(dir).getName}_${Tables.contentTag(dir)}_v1"
        // serve with the memoized centroids that BUILT the layout (the
        // recluster legs' contract) — not the independently recomputed
        // outer value, even though training is deterministic today
        val layoutCents = reclusterMemo.getOrElseUpdate(path,
          graft.operators.Artifacts.maintenanceLocked(path) {
            // GATE-HARNESS sentinel idiom (r15 verdict note — one idiom,
            // three instances: .deleted / .tombstoned / .folded): a
            // lifecycle step that is idempotent-but-not-free records its
            // completion in a `<path>.<step>` sentinel INSIDE the
            // maintenance lock, so a crashed build re-runs the step
            // (harmless by idempotence) and a finished one is a pure
            // read. These are fixture markers for the driver gates, not
            // engine artifacts — the engine's own conventions stay
            // `_SUCCESS` + typed sidecars (.schema.json, .generation).
            val marker = new java.io.File(path + ".deleted")
            if (!marker.exists()) {
              Similarity.materializedIvfIndex(embs, "vec_id", "embedding",
                cents, path)
              Similarity.ivfDelete(s, path, "vec_id",
                embs.filter(pmod(col("vec_id"), lit(7L)) === 3)
                  .select("vec_id"))
              java.nio.file.Files.writeString(marker.toPath, "ok")
            }
            cents
          })
        Similarity.ivfStoreTopK(s.read.parquet(path), "vec_id", "embedding",
          q, k = 10, layoutCents, nprobe = layoutCents.size)
      },
      // the HIGH-RATE delete path under the driver's oracle: ids are
      // TOMBSTONED (sidecar append — no store rewrite) and the serve
      // applies them logically via `tombstoneFiltered`, so the opt-out
      // is effective before any compaction folds it physically. The
      // oracle is brute force over the kept rows at full probe — the
      // same answer the q_ann_delete rewrite produces, reached without
      // rewriting a byte of the store.
      "q_ann_tombstone" -> { (s, dir) =>
        val embs = Tables.t(s, dir, "embeddings")
        val cents = kmeansCentroids(s, dir)
        val q = embs.filter(col("vec_id") === 0L)
          .select("embedding").head().getSeq[Float](0)
        val path =
          s"${Graft.targetDir}/indexes/ivf_tombstone_" +
            s"${new java.io.File(dir).getName}_${Tables.contentTag(dir)}_v1"
        val layoutCents = reclusterMemo.getOrElseUpdate(path,
          graft.operators.Artifacts.maintenanceLocked(path) {
            val marker = new java.io.File(path + ".tombstoned")
            if (!marker.exists()) {
              Similarity.materializedIvfIndex(embs, "vec_id", "embedding",
                cents, path)
              Similarity.ivfTombstone(s, path, "vec_id",
                embs.filter(pmod(col("vec_id"), lit(5L)) === 1)
                  .select("vec_id"))
              java.nio.file.Files.writeString(marker.toPath, "ok")
            }
            cents
          })
        Similarity.ivfStoreTopK(
          Similarity.tombstoneFiltered(s.read.parquet(path), path),
          "vec_id", "embedding", q, k = 10, layoutCents,
          nprobe = layoutCents.size)
      },
      // the tombstone lifecycle's PHYSICAL leg under the driver's oracle
      // (q_ann_tombstone gates the logical serve): ids are tombstoned,
      // the next `ivfCompact` FOLDS them — rewrites the store without
      // them and clears the folded sidecar files — and the serve here is
      // the PLAIN store read (no tombstoneFiltered), so only the fold's
      // physical deletes can make it match the kept-rows oracle. Proves
      // cross-engine that the fold's deletes equal the logical exclusion
      // the pre-fold serve applied. Build-once per content-tagged path;
      // every crash window re-runs idempotently (re-tombstoning absent
      // ids then re-folding removes nothing more).
      "q_ann_tombstone_fold" -> { (s, dir) =>
        val embs = Tables.t(s, dir, "embeddings")
        val cents = kmeansCentroids(s, dir)
        val q = embs.filter(col("vec_id") === 0L)
          .select("embedding").head().getSeq[Float](0)
        val path =
          s"${Graft.targetDir}/indexes/ivf_tombfold_" +
            s"${new java.io.File(dir).getName}_${Tables.contentTag(dir)}_v1"
        val layoutCents = reclusterMemo.getOrElseUpdate(path,
          graft.operators.Artifacts.maintenanceLocked(path) {
            val marker = new java.io.File(path + ".folded")
            if (!marker.exists()) {
              Similarity.materializedIvfIndex(embs, "vec_id", "embedding",
                cents, path)
              Similarity.ivfTombstone(s, path, "vec_id",
                embs.filter(pmod(col("vec_id"), lit(7L)) === 2)
                  .select("vec_id"))
              Similarity.ivfCompact(s, path)
              java.nio.file.Files.writeString(marker.toPath, "ok")
            }
            cents
          })
        Similarity.ivfStoreTopK(Similarity.readStore(s, path), "vec_id",
          "embedding", q, k = 10, layoutCents, nprobe = layoutCents.size)
      },
      // the OBJECT-STORE artifact protocol under the driver's oracle
      // (r17, ManifestArtifactStore): the same build → ingest →
      // tombstone → fold lifecycle runs with IMMUTABLE generation /
      // segment directories published by conditional PUT — no flock, no
      // rename, no read gate anywhere on the serve path — and the PLAIN
      // post-fold serve at full probe must equal kept-rows brute force
      // (residue class 4 mod 5), proving the manifest path's
      // publication, capture and fold semantics end to end cross-engine.
      // Fixture serialization across gate JVMs stays the harness-side
      // POSIX maintenance lock (the ENGINE ops inside exercise the
      // lease/CAS protocol); a crash before the marker rebuilds from
      // EMPTY because the ingest step is not idempotent.
      "q_ann_manifest" -> { (s, dir) =>
        val embs = Tables.t(s, dir, "embeddings")
        val cents = kmeansCentroids(s, dir)
        val q = embs.filter(col("vec_id") === 0L)
          .select("embedding").head().getSeq[Float](0)
        val path =
          s"${Graft.targetDir}/indexes/ivf_manifest_" +
            s"${new java.io.File(dir).getName}_${Tables.contentTag(dir)}_v1"
        val layoutCents = reclusterMemo.getOrElseUpdate(path,
          graft.operators.Artifacts.maintenanceLocked(path) {
            val marker = new java.io.File(path + ".manifest_done")
            if (!marker.exists()) {
              val st = new java.io.File(path)
              if (st.exists())
                org.apache.commons.io.FileUtils.deleteDirectory(st)
              // creation-time protocol choice on a CHILD session (conf
              // isolation: in the parallel test harness a shared-session
              // conf window would flip a concurrent fixture's store to
              // the wrong protocol); every later op sniffs the store's
              // own layout, so the shared-session frames below are fine
              val sM = s.newSession()
              sM.conf.set("spark.graft.artifactStore", "manifest")
              Similarity.materializedIvfIndex(
                Tables.t(sM, dir, "embeddings")
                  .filter(pmod(col("vec_id"), lit(2L)) === 0),
                "vec_id", "embedding", cents, path)
              Similarity.ivfIngest(
                embs.filter(pmod(col("vec_id"), lit(2L)) === 1),
                "embedding", cents, path)
              Similarity.ivfTombstone(s, path, "vec_id",
                embs.filter(pmod(col("vec_id"), lit(5L)) === 4)
                  .select("vec_id"))
              Similarity.ivfCompact(s, path)
              java.nio.file.Files.writeString(marker.toPath, "ok")
            }
            cents
          })
        Similarity.ivfStoreTopK(Similarity.readStore(s, path), "vec_id",
          "embedding", q, k = 10, layoutCents, nprobe = layoutCents.size)
      },
      // SNAPSHOT PINNING through the Hadoop-FS binding (r18): the store
      // root is a file:/// URI (manifest protocol by path shape — no
      // conf flip; the Hadoop binding does the listing/IO, the file://
      // CAS routes to the hard-link emulation), the snapshot is PINNED
      // right after the build, then a delete and a recluster — two
      // replaces under gcGraceMs=0, exactly the sequence the grace spec
      // proves collects an unpinned generation — rewrite the live store.
      // The serve re-resolves the DURABLE pin by id (a fresh gate JVM
      // crosses process boundaries here) and must equal brute force over
      // ALL rows: the world as of pin time, not the post-delete store.
      "q_ann_pinned" -> { (s, dir) =>
        val embs = Tables.t(s, dir, "embeddings")
        val cents = kmeansCentroids(s, dir)
        val q = embs.filter(col("vec_id") === 0L)
          .select("embedding").head().getSeq[Float](0)
        val local =
          s"${Graft.targetDir}/indexes/ivf_pinned_" +
            s"${new java.io.File(dir).getName}_${Tables.contentTag(dir)}_v1"
        val uri = "file://" + local
        val pinId = pinMemo.getOrElseUpdate(local,
          graft.operators.Artifacts.maintenanceLocked(local) {
            val marker = new java.io.File(local + ".pinned_done")
            if (!marker.exists()) {
              val st = new java.io.File(local)
              if (st.exists())
                org.apache.commons.io.FileUtils.deleteDirectory(st)
              Similarity.materializedIvfIndex(embs, "vec_id", "embedding",
                cents, uri)
              // pin BEFORE the rewrites; 7-day bound so re-runs against
              // unchanged testdata keep resolving the same pin
              val sPin = s.newSession()
              sPin.conf.set("spark.graft.artifact.pinMaxAgeMs",
                (7L * 24 * 3600 * 1000).toString)
              val (pid, _) = graft.operators.ArtifactStore
                .forPath(sPin, uri).pinSnapshot(sPin, uri)
              val sG = s.newSession()
              sG.conf.set("spark.graft.artifact.gcGraceMs", "0")
              Similarity.ivfDelete(sG, uri, "vec_id",
                embs.filter(pmod(col("vec_id"), lit(7L)) === 3)
                  .select("vec_id"))
              Similarity.ivfRecluster(sG, uri, "embedding", k = 3,
                iters = 1)
              java.nio.file.Files.writeString(marker.toPath, pid)
            }
            java.nio.file.Files.readString(marker.toPath)
          })
        val pinned = graft.operators.ManifestArtifactStore
          .resolvePin(s, uri, pinId)
        Similarity.ivfStoreTopK(
          graft.operators.ArtifactStore.readFrame(s, pinned),
          "vec_id", "embedding", q, k = 10, cents, nprobe = cents.size)
      },
      // CROSS-PROTOCOL MIGRATION (r18): a POSIX store — build from the
      // even residue, INGEST the odd (so the migrated file set spans
      // base + appended files), tombstone residue 5 (mod 8) and leave it
      // PENDING — migrates to a file:/// URI root (manifest protocol
      // through the Hadoop-FS binding) via the MIGRATE GRAFT ARTIFACT
      // SQL verb. The serve reads the DESTINATION with its carried
      // pending tombstones at full probe and must equal kept-rows brute
      // force: the distributed rewrite's layout re-application, the
      // destination's durable kind/schema metadata, and the tombstone
      // carry must all be right for this to match cross-engine.
      "q_ann_migrated" -> { (s, dir) =>
        val embs = Tables.t(s, dir, "embeddings")
        val cents = kmeansCentroids(s, dir)
        val q = embs.filter(col("vec_id") === 0L)
          .select("embedding").head().getSeq[Float](0)
        val src =
          s"${Graft.targetDir}/indexes/ivf_migr_src_" +
            s"${new java.io.File(dir).getName}_${Tables.contentTag(dir)}_v1"
        val dstLocal = src.replace("_migr_src_", "_migr_dst_")
        val dst = "file://" + dstLocal
        val layoutCents = reclusterMemo.getOrElseUpdate(src,
          graft.operators.Artifacts.maintenanceLocked(src) {
            val marker = new java.io.File(src + ".migrated")
            if (!marker.exists()) {
              // crash-window rebuild starts from EMPTY on BOTH sides
              // (migrate refuses an unmarked existing destination) —
              // including the POSIX source's out-of-root tombstone
              // sidecar dir (or a re-run would carry a second copy of
              // the batch); a stale completion marker needs no hand
              // cleanup — migrate clears it when the destination is
              // absent
              for (p <- Seq(src, src + ".tombstones", dstLocal)) {
                val f = new java.io.File(p)
                if (f.exists())
                  org.apache.commons.io.FileUtils.deleteDirectory(f)
              }
              Similarity.materializedIvfIndex(
                embs.filter(pmod(col("vec_id"), lit(2L)) === 0),
                "vec_id", "embedding", cents, src)
              Similarity.ivfIngest(
                embs.filter(pmod(col("vec_id"), lit(2L)) === 1),
                "embedding", cents, src)
              Similarity.ivfTombstone(s, src, "vec_id",
                embs.filter(pmod(col("vec_id"), lit(8L)) === 5)
                  .select("vec_id"))
              // the SQL verb, through the command route (a literal
              // spark.sql() can't carry extension syntax on this Spark:
              // parameter substitution pre-parses with the BUILT-IN
              // grammar and rejects it before the session parser runs)
              new graft.plans.GraftSqlParser(s
                  .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
                  .sessionState.sqlParser)
                .parsePlan(s"MIGRATE GRAFT ARTIFACT FROM '$src' TO '$dst'")
                .asInstanceOf[graft.plans.MigrateGraftArtifactCommand]
                .run(s)
              java.nio.file.Files.writeString(marker.toPath, "ok")
            }
            cents
          })
        Similarity.ivfStoreTopK(
          Similarity.tombstoneFiltered(Similarity.readStore(s, dst), dst),
          "vec_id", "embedding", q, k = 10, layoutCents,
          nprobe = layoutCents.size)
      },
      // class prototypes: per-label mean embedding (k-means update step as
      // an operator; decimal-routed per-dim sums), re-exploded to scalar
      // rows for the hash compare
      "q_vec_mean" -> { (s, dir) =>
        Vectors.meanByKey(Tables.t(s, dir, "embeddings"), "label", "embedding")
          .select(col("label"), col("n_vecs"),
            posexplode(col("mean")).as(Seq("dim", "m")))
          .orderBy("label", "dim")
      },
      // cross-engine rolling-hash fingerprint (q_doc_fingerprint carries
      // the portable chain + simhash oracle)
      "q_fingerprint_poly" -> { (s, dir) =>
        Tables.t(s, dir, "documents")
          .select(col("doc_id"), polyFingerprint(col("text")).as("fp"))
          .orderBy("doc_id")
      },
      // hopping (overlapping) time windows: 1-hour windows sliding every
      // 30 minutes — each event lands in exactly two windows
      // retention triangle: cohort = month of first event, one count per
      // (cohort, months-since) cell
      "q_events_retention" -> { (s, dir) =>
        import graft.streaming.EventPipeline
        EventPipeline.retention(Tables.events(s, dir), "user_id", "ts",
            period = "day")
          .orderBy("cohort_period", "periods_since")
      },
      // windowed variant: each step within 2 hours of the previous one
      "q_events_funnel_window" -> { (s, dir) =>
        import graft.streaming.EventPipeline
        EventPipeline.funnel(Tables.events(s, dir), "user_id", "event_type",
            "ts", Seq("view", "click", "purchase"), withinMinutes = Some(120))
          .select(col("user_id"), col("step"),
            unix_millis(col("ts")).as("ts_ms"))
          .orderBy("user_id", "step")
      },
      // ordered funnel conversion (view -> click -> purchase): each step's
      // earliest completion strictly after the previous step, per user
      "q_events_funnel" -> { (s, dir) =>
        import graft.streaming.EventPipeline
        EventPipeline.funnel(Tables.events(s, dir), "user_id", "event_type",
            "ts", Seq("view", "click", "purchase"))
          .select(col("user_id"), col("step"),
            unix_millis(col("ts")).as("ts_ms"))
          .orderBy("user_id", "step")
      },
      "q_events_hop" -> { (s, dir) =>
        Tables.events(s, dir)
          .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
          .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
          .select(col("window.start").cast("timestamp").cast("long").as("ws"),
            col("event_type"), col("cnt"), col("sum_value"))
          .orderBy("ws", "event_type")
      },
      // exact linear-interpolation percentiles (both engines compute
      // lower + frac*(upper-lower) at index p*(n-1) in double — bit-equal)
      "q_percentile" -> { (s, dir) =>
        Tables.t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(percentile(col("l_quantity"), lit(0.5)).as("p50"),
            percentile(col("l_quantity"), lit(0.9)).as("p90"),
            percentile(col("l_extendedprice"), lit(0.25)).as("price_p25"))
          .orderBy("l_returnflag")
      },
      // cross-engine document fingerprints: order-sensitive chain fold +
      // 31-bit SimHash, both over portable polynomial token hashes so the
      // whole row is oracle-checked (the production xxhash64 twins —
      // fingerprint()/simhash() — keep their ScalaTest differentials and
      // serve q_line_dedup)
      // (subword counting — lookaround regex, inexpressible in the
      // oracle's RE2 — is unit-locked in QualitySpec instead)
      "q_doc_fingerprint" -> { (s, dir) =>
        Tables.t(s, dir, "documents")
          .select(col("doc_id"),
            chainFingerprintPoly(col("text")).as("fp"),
            simhashPoly(col("text")).as("sh"))
          .orderBy("doc_id")
      },
      // sessionization: batch form (the streaming stateful twin is
      // differentially tested in StreamingSpec). Session assignment is the
      // single-pass session_spans aggregate — identical boundaries to the
      // former lag + strictly-greater-gap + running-sum window pair
      // (SessionSpansExpr's scaladoc pins the correspondence), without the
      // partition-wide sort + two WindowExec buffering passes; the
      // per-session aggregates (min/max/count/dsum) stay declarative so
      // the decimal-sum arithmetic is bit-identical
      "q_events_sessionize" -> { (s, dir) =>
        import org.apache.spark.sql.graft.PrimitiveCollects
        Tables.events(s, dir)
          .groupBy("user_id")
          .agg(PrimitiveCollects.sessionSpans(
            unix_millis(col("ts")), col("value"), 1800000L).as("g_spans"))
          .select(col("user_id"), explode(col("g_spans")).as("g_e"))
          .groupBy(col("user_id"), col("g_e.sess").as("g_sess"))
          .agg(min(col("g_e.ts_ms")).as("start_ms"),
            max(col("g_e.ts_ms")).as("end_ms"),
            count(lit(1)).as("n_events"),
            dsum(col("g_e.value")).as("total_value"))
          .drop("g_sess")
          .orderBy("user_id", "start_ms")
      },
      // video frame sampling: flatMap fan-out per blob (the stub codec is
      // pure 64-bit arithmetic, so the oracle recomputes it in HUGEINT)
      "q_multimodal_frames" -> { (s, dir) =>
        import graft.operators.Multimodal
        implicit val sp: SparkSession = s
        Multimodal.sampleFrames(Multimodal.demoBlobs(s, dir), n = 4).toDF()
          .groupBy("media_id")
          .agg(count(lit(1)).as("n_frames"),
            max(col("ptsMs")).as("max_pts"),
            sum(length(col("bytes"))).cast("long").as("payload_bytes"))
          .orderBy("media_id")
      },
      // the fully automatic chain: the optimizer collapses the star join to
      // the flat cube (StarJoinElimination), then serves the aggregate from
      // the pre-aggregated rollup (RollupRouting) — sum is DECIMAL-merged so
      // it matches the dsum oracle exactly
      "q_auto_rollup" -> { (s, dir) =>
        engine(s, dir)
        s.sql(
          """SELECT c_mktsegment, l_returnflag, count(*) AS cnt,
            |  sum(l_quantity) AS sum_qty,
            |  avg(l_extendedprice) AS avg_price,
            |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
            |FROM lineitem
            |JOIN orders ON l_orderkey = o_orderkey
            |JOIN customer ON o_custkey = c_custkey
            |GROUP BY 1, 2
            |ORDER BY 1, 2""".stripMargin)
      },
      // pre-aggregated rollup cube: avg decomposition + count merge served
      // from the small rollup table, compared against direct aggregation of
      // raw rows by the oracle (SURVEY.md §7.4 re-aggregation correctness)
      "q_rollup_reagg" -> { (s, dir) =>
        import graft.cube.RollupCube
        RollupCube.reaggregate(s, dir, Seq("c_mktsegment", "l_returnflag"),
            Seq(RollupCube.merge.cnt,
              RollupCube.merge.sumOf("l_quantity"),
              RollupCube.merge.avgOf("l_extendedprice")))
          .orderBy("c_mktsegment", "l_returnflag")
      },
      // merged HLL sketches: DataSketches HLL stays in exact coupon
      // LIST/SET mode below its promotion threshold, and the per-segment
      // customer NDV at oracle scale (~300) sits well under it — so the
      // estimate is exact and carries a count(DISTINCT) oracle, like the
      // KMV route (accuracy beyond the exact regime is spec-gated)
      "q_rollup_hll" -> { (s, dir) =>
        import graft.cube.RollupCube
        RollupCube.reaggregate(s, dir, Seq("c_mktsegment"),
            Seq(RollupCube.merge.cnt, RollupCube.merge.customers))
          .orderBy("c_mktsegment")
      },
      // merged KMV (theta-style) sketches: distinct count served from
      // pre-aggregated sketch unions — exact below the sketch's k, so this
      // one has a real count(DISTINCT) oracle
      "q_rollup_theta" -> { (s, dir) =>
        import graft.cube.RollupCube
        RollupCube.reaggregate(s, dir, Seq("c_mktsegment"),
            Seq(RollupCube.merge.cnt, RollupCube.merge.customersTheta))
          .orderBy("c_mktsegment")
      },
      // percentile served from pre-aggregated quantile sketches via the
      // automatic route (star collapse -> rollup) — lossless under the
      // measured saturation proof (totalRows <= sketch capacity at sf0.01),
      // so it carries a real quantile_cont oracle; above the proof the
      // route declines and the same query runs on the fact rows
      "q_rollup_quantile" -> { (s, dir) =>
        engine(s, dir)
        s.sql(
          """SELECT c_mktsegment, l_returnflag,
            |  percentile(l_extendedprice, 0.5D) AS p50_price,
            |  percentile(l_extendedprice, 0.95D) AS p95_price,
            |  count(*) AS cnt
            |FROM lineitem
            |JOIN orders ON l_orderkey = o_orderkey
            |JOIN customer ON o_custkey = c_custkey
            |GROUP BY 1, 2
            |ORDER BY 1, 2""".stripMargin)
      },
      // heavy hitters (Misra-Gries): Druid's approximate TopN capability as
      // a mergeable aggregate — err = 0 in the output *proves* the counts
      // exact (NDV below k), which is what licenses the GROUP BY oracle
      "q_freq_items" -> { (s, dir) =>
        import org.apache.spark.sql.graft.FreqSketch
        Tables.t(s, dir, "lineitem")
          .agg(FreqSketch.freqItems(col("l_suppkey")).as("g_fi"))
          .select(explode(col("g_fi")).as("g_e"))
          .select(col("g_e.item").cast("long").as("l_suppkey"),
            col("g_e.cnt").as("cnt"), col("g_e.err").as("err"))
          .orderBy(col("cnt").desc, col("l_suppkey"))
          .limit(10)
      },
      // automatic TopN rewrite (reference TopNQueryTransform): vanilla SQL,
      // served from merged heavy-hitter sketches under the measured
      // NDV <= k and zero-NULLs proofs — the optimizer routes it, not the
      // query author
      "q_topn_sketch" -> { (s, dir) =>
        engine(s, dir)
        s.sql(
          """SELECT l_suppkey, count(*) AS cnt
            |FROM lineitem
            |JOIN orders ON l_orderkey = o_orderkey
            |JOIN customer ON o_custkey = c_custkey
            |WHERE c_mktsegment = 'MACHINERY'
            |GROUP BY l_suppkey
            |ORDER BY cnt DESC, l_suppkey
            |LIMIT 10""".stripMargin)
      },
      // grouped TopN rewrite (Druid topN's dimension + granularity form):
      // per-segment supplier ranks — the sketches merge per surviving
      // group and the window ranks |groups x NDV| pre-counted rows
      "q_topn_grouped" -> { (s, dir) =>
        engine(s, dir)
        s.sql(
          """SELECT c_mktsegment, l_suppkey, cnt FROM (
            |  SELECT c_mktsegment, l_suppkey, count(*) AS cnt,
            |    row_number() OVER (PARTITION BY c_mktsegment
            |      ORDER BY count(*) DESC, l_suppkey) AS rk
            |  FROM lineitem
            |  JOIN orders ON l_orderkey = o_orderkey
            |  JOIN customer ON o_custkey = c_custkey
            |  GROUP BY c_mktsegment, l_suppkey)
            |WHERE rk <= 3
            |ORDER BY c_mktsegment, cnt DESC, l_suppkey""".stripMargin)
      },
      // weighted TopN rewrite: ORDER BY a *sum metric* (Druid topN over an
      // arbitrary sum aggregator) — served from the price-weighted
      // heavy-hitter sketches' exact micros, bit-equal to the DECIMAL sum
      "q_topn_weighted" -> { (s, dir) =>
        engine(s, dir)
        s.sql(
          """SELECT l_suppkey,
            |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS volume
            |FROM lineitem
            |JOIN orders ON l_orderkey = o_orderkey
            |JOIN customer ON o_custkey = c_custkey
            |WHERE c_mktsegment = 'MACHINERY'
            |GROUP BY l_suppkey
            |ORDER BY volume DESC, l_suppkey
            |LIMIT 7""".stripMargin)
      },
      // approximate TopN served from the rollup lattice: per-segment top
      // suppliers by *merging* the stored Misra-Gries sketches — no fact
      // scan; ranking ties break on the item string (the sketch's order),
      // restated identically in the oracle
      "q_rollup_topn" -> { (s, dir) =>
        import graft.cube.RollupCube
        RollupCube.reaggregate(s, dir, Seq("c_mktsegment"),
            Seq(RollupCube.merge.cnt, RollupCube.merge.freqItemsOf("l_suppkey")))
          .select(col("c_mktsegment"), col("cnt"),
            posexplode(slice(col("top_suppkey"), 1, 5)).as(Seq("g_pos", "g_e")))
          .select(col("c_mktsegment"), col("cnt"),
            (col("g_pos") + 1).as("rank"),
            col("g_e.item").cast("long").as("l_suppkey"),
            col("g_e.cnt").as("supp_cnt"), col("g_e.err").as("err"))
          .orderBy("c_mktsegment", "rank")
      },
      // PII-style scrubbing: masked identifier tails, digit-run redaction,
      // canonical text form — pure projections (codegen'd regexps, no
      // shuffle); the same shapes scrub phones/accounts/ids at corpus scale
      "q_text_redact" -> { (s, dir) =>
        import graft.functions.TextFunctions
        Tables.t(s, dir, "supplier")
          .select(col("s_suppkey"),
            TextFunctions.maskTail(col("s_name"), 4).as("name_masked"),
            TextFunctions.redactLongNumbers(col("s_name"), 1).as("name_redacted"),
            TextFunctions.normalizeText(col("s_name")).as("name_norm"))
          .orderBy("s_suppkey")
      },
      // benchmark decontamination: corpus documents sharing any word 4-gram
      // with the benchmark set (here: the src0 slice) — the eval-set-leak
      // audit of a training-data pipeline
      "q_decontaminate" -> { (s, dir) =>
        val docs = Tables.t(s, dir, "documents")
        Dedup.decontaminate(
            docs.filter(col("source") =!= "src0"), "doc_id", "text",
            docs.filter(col("source") === "src0"), "text", n = 4)
          .orderBy("doc_id")
      },
      // exact duplicated-span removal (Lee et al. 2022): windows are
      // hash-keyed in Spark, string-keyed in the oracle — equality of the
      // rebuilt text proves the hash path collision-free on this corpus
      "q_span_dedup" -> { (s, dir) =>
        Dedup.spanDedup(Tables.t(s, dir, "documents"), "doc_id", "text",
            k = 8)
          .orderBy("doc_id")
      },
      // hashed-bigram linear quality scorer (fastText-style inference;
      // deterministic stand-in weights, bit-exact cross-engine arithmetic)
      "q_quality_model" -> { (s, dir) =>
        Tables.t(s, dir, "documents")
          .filter(col("doc_id") < 200)
          .select(col("doc_id"),
            Quality.linearScore(col("text")).as("score"))
          .orderBy("doc_id")
      },
      // multimodal decode plumbing (stub codec — deterministic, rows-only)
      "q_multimodal_decode" -> { (s, dir) =>
        import graft.operators.Multimodal
        implicit val sp: SparkSession = s
        Multimodal.resizeMeta(
            Multimodal.decodeFeatures(Multimodal.demoBlobs(s, dir)).toDF(), 256)
          .groupBy("kind")
          .agg(count(lit(1)).as("cnt"),
            sum(col("sizeBytes")).cast("long").as("total_bytes"),
            max(col("width")).as("max_w"),
            max(col("durationMs")).as("max_dur"))
          .orderBy("kind")
      },
      // REAL in-sandbox decode (BuiltinCodec): BMP payloads are ENCODED
      // from document columns, so the oracle can restate what a correct
      // parse must recover — the engine only gets the bytes and must read
      // geometry from the DIB header and the luminance histogram from the
      // actual BGR pixel rows (incl. 4-byte row padding at widths 1..5)
      "q_media_bmp" -> { (s, dir) =>
        import graft.operators.Multimodal
        import Multimodal.{BuiltinCodec, Encode, MediaBlob}
        implicit val sp: SparkSession = s
        import s.implicits._
        val blobs = mediaBlobs(s, dir) { (id, len) => MediaBlob(id, "image",
          Encode.bmpGray((id % 5).toInt + 1, 2, len % 256)) }
        Multimodal.decodeFeatures(blobs, BuiltinCodec)
          .map(f => (f.media_id, f.width, f.height, f.channels,
            f.embedding.indexWhere(_ == 1.0f)))
          .toDF("media_id", "width", "height", "channels", "luma_bin")
          .orderBy("media_id")
      },
      // REAL PCM WAV decode: fmt-chunk fields and data-chunk duration,
      // plus the amplitude bin of the constant 16-bit samples
      "q_media_wav" -> { (s, dir) =>
        import graft.operators.Multimodal
        import Multimodal.{BuiltinCodec, Encode, MediaBlob}
        implicit val sp: SparkSession = s
        import s.implicits._
        val blobs = mediaBlobs(s, dir) { (id, len) => MediaBlob(id, "audio",
          Encode.wavPcm16(8000, (id % 2).toInt + 1, (len % 100 + 1) * 80,
            ((id % 8) * 4096).toShort)) }
        Multimodal.decodeFeatures(blobs, BuiltinCodec)
          .map(f => (f.media_id, f.channels, f.sampleRate, f.durationMs,
            f.embedding.indexWhere(_ == 1.0f)))
          .toDF("media_id", "channels", "sample_rate", "duration_ms", "amp_bin")
          .orderBy("media_id")
      },
      // REAL pixel resize: BMP payloads re-encoded by nearest-neighbor
      // downscale, then re-DECODED — the oracle restates the scaled
      // geometry and the (gray-preserving) luminance bin a correct
      // resample must produce from the actual output pixels
      "q_media_resize" -> { (s, dir) =>
        import graft.operators.Multimodal
        import Multimodal.{BuiltinCodec, Encode, MediaBlob}
        implicit val sp: SparkSession = s
        import s.implicits._
        val blobs = mediaBlobs(s, dir) { (id, len) => MediaBlob(id, "image",
          Encode.bmpGray((id % 6).toInt + 2, (id % 4).toInt + 1, len % 256)) }
        Multimodal.decodeFeatures(
            Multimodal.resizeBlobs(blobs, maxDim = 3, BuiltinCodec).toDF(),
            BuiltinCodec)
          .map(f => (f.media_id, f.width, f.height,
            f.embedding.indexWhere(_ == 1.0f)))
          .toDF("media_id", "width", "height", "luma_bin")
          .orderBy("media_id")
      },
      // REAL Y4M frame sampling: evenly-spaced true frames with their
      // header-derived presentation timestamps and raw plane sizes
      "q_media_y4m" -> { (s, dir) =>
        import graft.operators.Multimodal
        import Multimodal.{BuiltinCodec, Encode, MediaBlob}
        implicit val sp: SparkSession = s
        import s.implicits._
        val blobs = mediaBlobs(s, dir) { (id, _) => MediaBlob(id, "video",
          Encode.y4m(4, 2, 10, 1,
            Seq.tabulate((id % 3).toInt + 2)(i => (i * 40) % 256))) }
        Multimodal.sampleFrames(blobs, n = 2, BuiltinCodec)
          .map(f => (f.media_id, f.frameIdx, f.ptsMs, f.bytes.length))
          .toDF("media_id", "frame_idx", "pts_ms", "frame_bytes")
          .orderBy("media_id", "frame_idx")
      },
      // ---- deterministic sampling (training-data mixture ops) ----------
      "q_sample_uniform" -> { (s, dir) =>
        Sampling.sample(Tables.t(s, dir, "lineitem"),
            col("l_orderkey") * 8 + col("l_linenumber"), 0.05, salt = 7)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("cnt"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag")
      },
      "q_sample_stratified" -> { (s, dir) =>
        Sampling.stratifiedSample(Tables.t(s, dir, "documents"),
            col("doc_id"), col("lang"),
            Map("en" -> 0.5, "zh" -> 1.0), defaultFraction = 0.2, salt = 11)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      "q_split_assign" -> { (s, dir) =>
        Tables.t(s, dir, "documents")
          .withColumn("split", Sampling.assignSplit(col("doc_id"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = 3))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("split", "lang")
      },
      // quality-weighted sampling: keep probability = the document's
      // lexical-diversity score — deterministic in the key, scan-pushable,
      // bit-equal across engines (explicit floor; see importanceSample)
      "q_sample_importance" -> { (s, dir) =>
        Sampling.importanceSample(Tables.t(s, dir, "documents"),
            col("doc_id"), distinctTokenRatio(col("text")), salt = 19)
          .select("doc_id", "lang")
          .orderBy("doc_id")
      },
      // token-budget mixture: per-language corpora sampled to TOKEN
      // budgets (not row fractions) in the portable hash order
      "q_sample_budget" -> { (s, dir) =>
        Sampling.tokenBudgetSample(Tables.t(s, dir, "documents"),
            "doc_id", "lang",
            graft.functions.TextFunctions.tokenCount(col("text")),
            budgets = Map("en" -> 5000L, "zh" -> 2000L),
            defaultBudget = 1500L)
          .select("doc_id", "lang", "n_tok")
          .orderBy("doc_id")
      },
      // leakage-safe split: near-dup cluster members share one split (the
      // split hash keys on the cluster representative, not the document)
      "q_split_leakage" -> { (s, dir) =>
        val clusters = Dedup.connectedComponents(
          ngramPairsIndex(s, dir), "idA", "idB")
        Sampling.leakageSafeSplit(Tables.t(s, dir, "documents"), "doc_id",
            clusters, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
            salt = 11)
          .select("doc_id", "split")
          .orderBy("doc_id")
      },
      "q_mix_weighted" -> { (s, dir) =>
        val docs = Tables.t(s, dir, "documents")
        graft.operators.Sampling.weightedMix(
            Seq(
              ("web",   docs.filter(col("source") < "src2"), 0.5),
              ("books", docs.filter(col("source") >= "src2"), 0.25)),
            "doc_id", Seq("doc_id"), salt = 13)
          .groupBy("mix_source")
          .agg(count(lit(1)).as("cnt"), min("doc_id").as("min_id"),
            max("doc_id").as("max_id"))
          .orderBy("mix_source")
      },
      // ---- corpus statistics (vocabulary / TF-IDF) ---------------------
      "q_vocab" -> { (s, dir) =>
        Corpus.vocabulary(Tables.t(s, dir, "documents"), "doc_id", "text")
          .orderBy(col("tf").desc, col("term"))
          .limit(25)
      },
      // distributed BPE: merges learned over the full corpus (one
      // corpus-scale shuffle, then vocabulary-sized iterations — memoized
      // index-build ETL like the k-means centroids), then the encode — a
      // codegen'd replace chain, no shuffle — replayed verbatim by the
      // oracle over the inlined merge table
      "q_bpe_encode" -> { (s, dir) =>
        val m = bpeMerges(s, dir)
        Tables.t(s, dir, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"), Bpe.encode(col("text"), m).as("bpe_sym"))
          .select(col("doc_id"), col("bpe_sym"),
            Bpe.bpeTokenCount(col("bpe_sym")).as("n_bpe"))
          .orderBy("doc_id")
      },
      // the job-count-bounded trainer (disjoint-pair batching, batch=8):
      // its merge table is learned in ~nMerges/8 count rounds and the
      // encode under it replays verbatim in the oracle — the 32k-scale
      // training path is hash-gated, not just spec-locked
      "q_bpe_batched" -> { (s, dir) =>
        val m = bpeBatchedMerges(s, dir)
        Tables.t(s, dir, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"), Bpe.encode(col("text"), m).as("bpe_sym"))
          .select(col("doc_id"), col("bpe_sym"),
            Bpe.bpeTokenCount(col("bpe_sym")).as("n_bpe"))
          .orderBy("doc_id")
      },
      // the training-ready form: token IDs under the trained merge table +
      // vocabulary — the oracle re-derives the vocabulary itself (distinct
      // encoded symbols, dense sorted ids), so the id assignment is
      // verified, not just the strings
      "q_bpe_ids" -> { (s, dir) =>
        val m = bpeMerges(s, dir)
        val v = bpeVocab(s, dir)
        Tables.t(s, dir, "documents").filter(col("doc_id") < 50)
          .select(col("doc_id"),
            array_join(transform(Bpe.encodeIds(col("text"), m, v),
              i => i.cast("string")), ",").as("ids_csv"))
          .orderBy("doc_id")
      },
      // training batch prep, end to end: BPE-encode -> real token budget ->
      // fixed-capacity bins (packing against the TRAINED tokenizer's
      // counts, not the whitespace proxy)
      "q_pack_bpe" -> { (s, dir) =>
        val m = bpeMerges(s, dir)
        val docs = Tables.t(s, dir, "documents")
        // word-level counting (each distinct word encoded once) — same
        // numbers as encoding every document, at vocabulary cost
        val counts = Bpe.tokenCountsByWord(docs, "doc_id", "text", m)
        // join on the bare id column, not the documents table: packByCount
        // range-shuffles its whole input, and dragging the text payload
        // through that exchange only to drop it in the final select would
        // shuffle the corpus body for nothing
        val withN = docs.select("doc_id").join(counts, Seq("doc_id"), "left")
        Corpus.packByCount(withN, "doc_id",
            coalesce(col("n_bpe"), lit(0L)), capacity = 4096)
          .select("doc_id", "n_tokens", "bin_id")
          .orderBy("doc_id")
      },
      "q_tfidf" -> { (s, dir) =>
        Corpus.tfIdf(Tables.t(s, dir, "documents"), "doc_id", "text")
          .filter(col("doc_id") < 10)
          .select("doc_id", "term", "tf", "score")
          .orderBy("doc_id", "term")
      },
      // corpus-trained bigram LM quality scoring: mean conditional
      // probability (ratio+decimal domain — no libm log, so the trained
      // model itself is oracle-verified end to end)
      "q_quality_lm" -> { (s, dir) =>
        val docs = Tables.t(s, dir, "documents")
        Quality.bigramLmScore(docs.filter(col("doc_id") < 100),
            "doc_id", "text", bigramLmFor(s, dir))
          .orderBy("doc_id")
      },
      // ---- column profiling (data-quality sweep) -----------------------
      "q_profile" -> { (s, dir) =>
        Profile.profile(Tables.t(s, dir, "lineitem"),
            Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax",
              "l_orderkey"), exact = true)
          .orderBy("col_name")
      },
      // profiling with per-column top values (sketch-rendered, exact below
      // the counter budget — the classic data-profiling "most frequent
      // values" panel)
      "q_profile_top" -> { (s, dir) =>
        Profile.profile(Tables.t(s, dir, "lineitem"),
            Seq("l_returnflag", "l_suppkey", "l_linenumber"),
            exact = true, topK = 3)
          .orderBy("col_name")
      },
      // join-key skew profile: top keys + row share from ONE input pass
      // (total = sum of the per-key counts over the reused exchange)
      "q_skew_profile" -> { (s, dir) =>
        graft.operators.Skew.keySkewProfile(
          Tables.t(s, dir, "lineitem"), col("l_suppkey"), n = 10)
      },
      // salted join: salt only REROUTES rows (large side picks one salt,
      // small side replicates across all), so the joined row set — and
      // this aggregate — is bit-identical to the plain equi-join the
      // oracle states. The merge hint forces the shuffling sort-merge
      // path salting exists for (a broadcast join has no skewed shuffle
      // to spread — and would make this gate vacuous)
      "q_salted_join" -> { (s, dir) =>
        val supp = Tables.t(s, dir, "supplier")
          .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
          .hint("merge")
        graft.operators.Skew.saltedJoin(
            Tables.t(s, dir, "lineitem")
              .select("l_suppkey", "l_extendedprice"),
            supp, "l_suppkey", salt = 8)
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_items"),
            Tables.dsum(col("l_extendedprice")).as("revenue"))
          .orderBy("s_nationkey")
      },
      // co-bucketed fact-to-fact join: both sides laid out bucketBy(orderkey)
      // once (content-keyed table names — idempotent per testdata
      // generation), then the join plans with zero ShuffleExchange; rows
      // identical to the plain shuffling join the oracle states
      "q_bucketed_join" -> { (s, dir) =>
        import graft.operators.Bucketing
        val tag = s"${new java.io.File(dir).getName.replace(".", "_")}_" +
          Tables.contentTag(dir)
        val li = Bucketing.ensureBucketed(s,
          Tables.t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice"),
          s"g_bkt_li_$tag", "l_orderkey", buckets = 16)
        val ord = Bucketing.ensureBucketed(s,
          Tables.t(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
          s"g_bkt_ord_$tag", "o_orderkey", buckets = 16)
        Bucketing.cobucketedJoin(li, "l_orderkey", ord, "o_orderkey")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            Tables.dsum(col("l_extendedprice")).as("revenue"))
          .orderBy("o_orderpriority")
      },
      // context-window chunking: generator + array slice, zero shuffle
      "q_doc_chunks" -> { (s, dir) =>
        Corpus.chunk(Tables.t(s, dir, "documents")
            .filter(col("doc_id") < 100), "doc_id", "text",
            chunkTokens = 64, overlap = 16)
          .orderBy("doc_id", "chunk_id")
      },
      // striped sequence packing: distributed two-phase prefix sum.
      // Counts are projected down to (doc_id, n_tokens) BEFORE the pack:
      // packByCount materializes its input and range-shuffles it, and
      // carrying the document body through that exchange/checkpoint only
      // to drop it in the final select would move the corpus for nothing
      // (same counts as packSequences over the full frame — the count is
      // the identical expression, evaluated one projection earlier)
      "q_seq_pack" -> { (s, dir) =>
        Corpus.packByCount(Tables.t(s, dir, "documents")
            .select(col("doc_id"),
              size(Corpus.terms(col("text"))).cast("long").as("n_tokens")),
            "doc_id", col("n_tokens"), capacity = 2048)
          .select("doc_id", "n_tokens", "bin_id")
          .orderBy("doc_id")
      },
      // CCNet-style line-level boilerplate removal. The synthetic docs are
      // single-line, so the query first restates each as 8-token lines (a
      // pure projection both engines express identically), then drops every
      // line occurring >= 2 times corpus-wide and reassembles survivors in
      // order
      "q_line_dedup" -> { (s, dir) =>
        val toks = split(col("text"), " ")
        val multi = Tables.t(s, dir, "documents").select(col("doc_id"),
          array_join(transform(sequence(lit(0), size(toks) - 1, lit(8)),
            st => array_join(slice(toks, st + 1, lit(8)), " ")), "\n").as("mtext"))
        Corpus.dedupLines(multi, "doc_id", "mtext", minDf = 2)
          .orderBy("doc_id")
      })

    /** Shared tokenize→per-doc-term-frequency CTE prefix (DuckDB side of
      * [[graft.operators.Corpus.termFrequencies]]).
      */
    private val tfCte =
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tfd AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2)""".stripMargin

    val oracles: Map[String, String] = Map(
      "q_doc_chunks" ->
        """WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
          |  FROM documents WHERE doc_id < 100),
          |s AS (SELECT doc_id, toks, len(toks) AS n,
          |    unnest(generate_series(0,
          |      CAST(greatest(1, ceil((len(toks) - 16) / 48.0)) AS BIGINT) - 1)) AS i
          |  FROM t)
          |SELECT doc_id, i AS chunk_id,
          |  array_to_string(toks[i*48+1 : i*48+64], ' ') AS chunk_text,
          |  CAST(least(n - i*48, 64) AS BIGINT) AS n_tokens
          |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
      "q_seq_pack" ->
        """WITH t AS (SELECT doc_id,
          |    CAST(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
          |  FROM documents)
          |SELECT doc_id, n_tokens,
          |  CAST(floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS bin_id
          |FROM t ORDER BY doc_id""".stripMargin,
      "q_line_dedup" ->
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |m AS (SELECT doc_id, list_transform(range(1, len(toks) + 1, 8),
          |        s -> array_to_string(toks[s:s+7], ' ')) AS lns FROM t),
          |l AS (SELECT doc_id, unnest(lns) AS line,
          |        unnest(range(1, len(lns) + 1)) AS pos FROM m),
          |b AS (SELECT line FROM l GROUP BY line HAVING count(*) >= 2),
          |k AS (SELECT doc_id, pos, line FROM l
          |      WHERE line NOT IN (SELECT line FROM b)),
          |a AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
          |        count(*) AS n_kept FROM k GROUP BY doc_id)
          |SELECT m.doc_id, coalesce(a.text_clean, '') AS text_clean,
          |  coalesce(a.n_kept, 0) AS n_kept,
          |  len(m.lns) - coalesce(a.n_kept, 0) AS n_dropped
          |FROM m LEFT JOIN a ON m.doc_id = a.doc_id
          |ORDER BY m.doc_id""".stripMargin,
      "q_sample_uniform" ->
        s"""SELECT l_returnflag, count(*) AS cnt, ${dec("l_quantity")} AS sum_qty
           |FROM lineitem
           |WHERE ${Sampling.bucketSql("l_orderkey * 8 + l_linenumber", 7)}
           |      < ${Sampling.thresholdOf(0.05)}
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q_sample_stratified" ->
        s"""SELECT doc_id, lang FROM documents
           |WHERE ${Sampling.bucketSql("doc_id", 11)} <
           |  CASE lang WHEN 'en' THEN ${Sampling.thresholdOf(0.5)}
           |            WHEN 'zh' THEN ${Sampling.thresholdOf(1.0)}
           |            ELSE ${Sampling.thresholdOf(0.2)} END
           |ORDER BY doc_id""".stripMargin,
      "q_split_assign" ->
        s"""SELECT ${Sampling.assignSplitSql("doc_id",
               Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), 3)} AS split,
           |  lang, count(*) AS cnt
           |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q_sample_importance" ->
        s"""WITH d AS (SELECT doc_id, lang,
           |    CASE WHEN trim(text) = '' THEN 0.0
           |      ELSE CAST(len(list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS DOUBLE) /
           |           CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS DOUBLE) END AS w
           |  FROM documents)
           |SELECT doc_id, lang FROM d
           |WHERE ${Sampling.importanceSampleSql("doc_id", "w", 19)}
           |ORDER BY doc_id""".stripMargin,
      "q_mix_weighted" ->
        s"""WITH m AS (
           |  SELECT 'web' AS mix_source, doc_id FROM documents
           |  WHERE source < 'src2'
           |    AND ${Sampling.bucketSql("doc_id", 13)} < ${Sampling.thresholdOf(0.5)}
           |  UNION ALL
           |  SELECT 'books' AS mix_source, doc_id FROM documents
           |  WHERE source >= 'src2'
           |    AND ${Sampling.bucketSql("doc_id", 13)} < ${Sampling.thresholdOf(0.25)})
           |SELECT mix_source, count(*) AS cnt, min(doc_id) AS min_id,
           |  max(doc_id) AS max_id
           |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
      "q_vocab" ->
        s"""$tfCte
           |SELECT term, CAST(sum(tf) AS BIGINT) AS tf, count(*) AS df
           |FROM tfd GROUP BY term ORDER BY 2 DESC, 1 LIMIT 25""".stripMargin,
      "q_tfidf" ->
        s"""$tfCte,
           |dfreq AS (SELECT term, count(*) AS df FROM tfd GROUP BY term),
           |n AS (SELECT count(*) AS n_docs FROM documents)
           |SELECT t.doc_id, t.term, t.tf,
           |  (CAST(t.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE)) / CAST(d.df AS DOUBLE) AS score
           |FROM tfd t JOIN dfreq d USING (term) CROSS JOIN n
           |WHERE t.doc_id < 10
           |ORDER BY t.doc_id, t.term""".stripMargin,
      "q_profile" ->
        (Profile.profileSql("lineitem",
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_orderkey")) + "\nORDER BY col_name"),
      "q_profile_top" ->
        (Profile.profileSql("lineitem",
          Seq("l_returnflag", "l_suppkey", "l_linenumber"), topK = 3) +
          "\nORDER BY col_name"),
      // share = long/long-count double division: identical IEEE operands in
      // both engines, so the hash compare is exact
      "q_skew_profile" ->
        """SELECT l_suppkey AS key, count(*) AS "rows",
          |  CAST(count(*) AS DOUBLE) /
          |    (SELECT CAST(count(*) AS DOUBLE) FROM lineitem) AS share
          |FROM lineitem GROUP BY 1
          |ORDER BY "rows" DESC, key LIMIT 10""".stripMargin,
      // salting only reroutes rows; the aggregate equals the plain join's
      "q_salted_join" ->
        s"""SELECT s_nationkey, count(*) AS n_items,
           |  ${Tables.dsumSql("l_extendedprice")} AS revenue
           |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      // bucketed layout changes the PLAN (zero-shuffle SMJ), never the rows
      "q_bucketed_join" ->
        s"""SELECT o_orderpriority, count(*) AS n_items,
           |  ${Tables.dsumSql("l_extendedprice")} AS revenue
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q_text_stats" ->
        """SELECT doc_id,
          |  len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_tokens,
          |  len(list_distinct(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS n_distinct,
          |  n_chars
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q_text_quality" ->
        s"""SELECT source, count(*) AS n_docs,
           |  ${dec("CAST(len(list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS DOUBLE) / CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS DOUBLE)")} AS sum_diversity,
           |  ${dec("CAST(length(regexp_replace(text, '[\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)")} AS sum_punct
           |FROM documents GROUP BY source ORDER BY source""".stripMargin,
      "q_lang_id" -> langIdOracle,
      // Gopher rules re-stated in DuckDB: same tokenizer (whitespace split),
      // same bigram/coverage definitions, integer-exact until the final
      // double divisions (bit-identical across engines)
      "q_text_gopher" ->
        """WITH base AS (
          |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks, text
          |  FROM documents
          |), stats AS (
          |  SELECT doc_id, toks, text, len(toks) AS m,
          |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS total_chars
          |  FROM base
          |), grams AS (
          |  SELECT doc_id, i AS pos, array_to_string(toks[i:i+1], ' ') AS ng,
          |    length(toks[i]) + length(toks[i+1]) AS ngc
          |  FROM stats, UNNEST(generate_series(1, m - 1)) AS u(i)
          |), occ AS (
          |  SELECT doc_id, ng, min(ngc) AS ngc, count(*) AS cnt
          |  FROM grams GROUP BY doc_id, ng
          |), top AS (
          |  SELECT doc_id, least(1.0,
          |      CAST(cnt * ngc AS DOUBLE) / CAST(total_chars AS DOUBLE)) AS top_frac
          |  FROM (
          |    SELECT o.doc_id, o.cnt, o.ngc, s.total_chars,
          |      row_number() OVER (PARTITION BY o.doc_id
          |                         ORDER BY o.cnt DESC, o.ng ASC) AS rk
          |    FROM occ o JOIN stats s USING (doc_id))
          |  WHERE rk = 1
          |), cov AS (
          |  SELECT DISTINCT g.doc_id, u.p
          |  FROM grams g JOIN occ o USING (doc_id, ng),
          |       UNNEST(generate_series(g.pos, g.pos + 1)) AS u(p)
          |  WHERE o.cnt > 1
          |), lens AS (
          |  SELECT doc_id, i AS p, length(toks[i]) AS l
          |  FROM stats, UNNEST(generate_series(1, m)) AS u(i)
          |), dup AS (
          |  SELECT doc_id, CAST(sum(l) AS BIGINT) AS cov_chars
          |  FROM cov JOIN lens USING (doc_id, p) GROUP BY doc_id
          |)
          |SELECT s.doc_id,
          |  CASE WHEN s.m = 0 THEN 0.0
          |       ELSE CAST(s.total_chars AS DOUBLE) / CAST(s.m AS DOUBLE) END
          |    AS mean_word_len,
          |  CASE WHEN s.m = 0 THEN 0.0
          |       ELSE CAST(len(list_filter(s.toks,
          |              x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
          |            / CAST(s.m AS DOUBLE) END AS alpha_word_ratio,
          |  CASE WHEN s.m = 0 THEN 0.0
          |       ELSE CAST((len(string_split(s.text, '#')) - 1)
          |              + (len(string_split_regex(s.text, '\.{3,}')) - 1)
          |              + (len(string_split(s.text, '…')) - 1) AS DOUBLE)
          |            / CAST(s.m AS DOUBLE) END AS symbol_word_ratio,
          |  coalesce(t.top_frac, 0.0) AS top_ngram_char_frac,
          |  CASE WHEN s.total_chars > 0
          |       THEN coalesce(CAST(d.cov_chars AS DOUBLE)
          |              / CAST(s.total_chars AS DOUBLE), 0.0)
          |       ELSE 0.0 END AS dup_ngram_char_frac
          |FROM stats s
          |LEFT JOIN top t USING (doc_id)
          |LEFT JOIN dup d USING (doc_id)
          |ORDER BY s.doc_id""".stripMargin,
      // int8 quantization restated: floor(x/scale + 0.5) is tie-free and
      // identical across engines; sums fold in index order
      "q_vec_mean" ->
        s"""WITH d AS (SELECT label, i - 1 AS dim,
           |    CAST(embedding[i] AS DOUBLE) AS x
           |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)),
           |m AS (SELECT label, dim, count(*) AS n,
           |    ${Tables.dsumSql("x")} / CAST(count(*) AS DOUBLE) AS m
           |  FROM d GROUP BY 1, 2)
           |SELECT label, CAST(max(n) OVER (PARTITION BY label) AS BIGINT) AS n_vecs,
           |  CAST(dim AS INT) AS dim, m
           |FROM m ORDER BY label, dim""".stripMargin,
      "q_vec_quant" ->
        """WITH sc AS (
          |  SELECT vec_id, embedding,
          |    list_max(list_transform(embedding,
          |      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
          |  FROM embeddings
          |), qq AS (
          |  SELECT vec_id, embedding, scale,
          |    CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
          |         ELSE list_transform(embedding, x ->
          |           CAST(greatest(-127, least(127,
          |             floor(CAST(x AS DOUBLE) / scale + 0.5))) AS INTEGER))
          |    END AS q
          |  FROM sc
          |)
          |SELECT vec_id, scale,
          |  CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT))) AS BIGINT)
          |    AS q_sum,
          |  CAST(list_sum(list_transform(q, x -> abs(CAST(x AS BIGINT)))) AS BIGINT)
          |    AS q_l1,
          |  list_sum(list_transform(generate_series(1, len(q)),
          |    i -> (CAST(q[i] AS DOUBLE) * scale - CAST(embedding[i] AS DOUBLE))
          |       * (CAST(q[i] AS DOUBLE) * scale - CAST(embedding[i] AS DOUBLE))))
          |    AS recon_sse
          |FROM qq ORDER BY vec_id""".stripMargin,
      "q_pipeline_e2e" -> pipelineE2eOracle,
      "q_dedup_exact" ->
        """WITH k AS (SELECT md5(text) AS h, min(doc_id) AS doc_id FROM documents GROUP BY 1)
          |SELECT d.doc_id, d.lang, d.source FROM documents d
          |JOIN k ON d.doc_id = k.doc_id ORDER BY d.doc_id""".stripMargin,
      "q_dedup_ngram" -> ngramPairsOracle,
      "q_dedup_containment" -> containmentOracle,
      "q_dedup_containment_capped" -> containmentCappedOracle,
      "q_dedup_minhash" -> ngramPairsOracle,
      "q_dedup_clusters" -> dedupClustersOracle,
      "q_corpus_dedup" -> corpusDedupOracle,
      "q_corpus_dedup_best" -> corpusDedupBestOracle,
      "q_sample_budget" ->
        s"""WITH t AS (SELECT doc_id, lang,
           |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS BIGINT) AS n_tok,
           |    ${Sampling.bucketSql("doc_id")} AS g_ord
           |  FROM documents),
           |c AS (SELECT doc_id, lang, n_tok,
           |    coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY g_ord, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
           |  FROM t)
           |SELECT doc_id, lang, n_tok FROM c
           |WHERE cum < CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2000 ELSE 1500 END
           |ORDER BY doc_id""".stripMargin,
      "q_split_leakage" -> splitLeakageOracle,
      "q_sim_topk" -> simTopkOracle,
      "q_events_window" ->
        s"""SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS ws,
           |  event_type, count(*) AS cnt, ${dec("value")} AS sum_value
           |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q_events_json" ->
        s"""SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT) % 10 AS kmod,
           |  count(*) AS cnt, ${dec("value")} AS sum_value
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
      "q_fingerprint_poly" ->
        """WITH t AS (SELECT doc_id,
          |  list_transform(list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
          |    t -> list_reduce(list_transform(string_split_regex(t, ''), c -> CAST(ord(c) AS BIGINT)),
          |                     (h, c) -> (h*31 + c) % 2147483647)) AS th
          |FROM documents)
          |SELECT doc_id,
          |  CASE WHEN len(th) >= 4 THEN
          |    list_min(list_transform(generate_series(1, len(th)-3),
          |      i -> (th[i]*2248091 + th[i+1]*17161 + th[i+2]*131 + th[i+3]) % 2147483647))
          |  WHEN len(th) = 0 THEN 0
          |  ELSE list_reduce(th, (a, h) -> (a*131 + h) % 2147483647) END AS fp
          |FROM t ORDER BY doc_id""".stripMargin,
      "q_doc_fingerprint" ->
        """WITH t AS (SELECT doc_id,
          |  CASE WHEN len(trim(text)) = 0 THEN []
          |  ELSE list_transform(list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
          |    t -> list_reduce(list_transform(string_split_regex(t, ''), c -> CAST(ord(c) AS BIGINT)),
          |                     (h, c) -> (h*31 + c) % 2147483647)) END AS th
          |FROM documents)
          |SELECT doc_id,
          |  CASE WHEN len(th) = 0 THEN 0
          |  ELSE list_reduce(th, (a, h) -> (a*131 + h) % 2147483647) END AS fp,
          |  CAST(CASE WHEN len(th) = 0 THEN 0
          |  ELSE list_sum(list_transform(range(0, 31), b ->
          |    CASE WHEN 2 * len(list_filter(th, h -> ((h >> b) & 1) = 1)) >= len(th)
          |    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) END AS BIGINT) AS sh
          |FROM t ORDER BY doc_id""".stripMargin,
      // brute-force restatement of the SimHash LSH dedup: pigeonhole
      // blocking at hamming<=3 is recall-exact, so LSH output == all-pairs.
      // The 62-bit signature = two 31-bit majority votes over Lehmer²-mixed
      // token hashes (salts 1 and 2 after the +1 seed), packed low+high*2^31
      "q_dedup_simhash" ->
        """WITH t AS (SELECT doc_id,
          |  CASE WHEN len(trim(text)) = 0 THEN []
          |  ELSE list_transform(list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
          |    t -> list_reduce(list_transform(string_split_regex(t, ''), c -> CAST(ord(c) AS BIGINT)),
          |                     (h, c) -> (h*31 + c) % 2147483647)) END AS th
          |FROM documents),
          |m AS (SELECT doc_id,
          |  list_transform(th, h -> ((h + 1) * 48271 % 2147483647) * 48271 % 2147483647) AS th1,
          |  list_transform(th, h -> ((h + 2) * 48271 % 2147483647) * 48271 % 2147483647) AS th2
          |FROM t),
          |s AS (SELECT doc_id,
          |  CAST(CASE WHEN len(th1) = 0 THEN 0
          |  ELSE list_sum(list_transform(range(0, 31), b ->
          |    CASE WHEN 2 * len(list_filter(th1, h -> ((h >> b) & 1) = 1)) >= len(th1)
          |    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) END AS BIGINT)
          |  + 2147483648 *
          |  CAST(CASE WHEN len(th2) = 0 THEN 0
          |  ELSE list_sum(list_transform(range(0, 31), b ->
          |    CASE WHEN 2 * len(list_filter(th2, h -> ((h >> b) & 1) = 1)) >= len(th2)
          |    THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) END AS BIGINT) AS sh
          |FROM m)
          |SELECT a.doc_id AS idA, b.doc_id AS idB,
          |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
          |FROM s a JOIN s b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.sh, b.sh)) <= 3
          |ORDER BY idA, idB""".stripMargin,
      // the multimodal stub codec is pure 64-bit arithmetic (FNV-1a over
      // the payload bytes + splitmix-style mixes), so DuckDB recomputes it
      // bit-for-bit with HUGEINT wraparound — the whole decode/resize/frame
      // plumbing is oracle-checked, only the codec MATH is the stub
      "q_multimodal_decode" ->
        s"""WITH b AS (SELECT doc_id, ['image','audio','video'][CAST(doc_id % 3 AS INT)+1] AS kind,
           |            encode(text) AS bytes FROM documents),
           |h AS (SELECT doc_id, kind, octet_length(bytes) AS sz, $fnvSql AS fnv FROM b),
           |f AS (SELECT kind, sz,
           |   CASE WHEN kind = 'audio' THEN 0 ELSE 64 + CAST(${mixSql(1)} % 512 AS INT) END AS w,
           |   CASE WHEN kind = 'audio' THEN 0 ELSE 64 + CAST(${mixSql(2)} % 512 AS INT) END AS hgt,
           |   CASE WHEN kind <> 'image' THEN 1000 + CAST(${mixSql(4)} % 65536 AS BIGINT) ELSE 0 END AS dur
           | FROM h),
           |r AS (SELECT kind, sz, dur,
           |   CASE WHEN w > 0 THEN GREATEST(CAST(FLOOR(w * LEAST(256.0/GREATEST(w,1), 256.0/GREATEST(hgt,1), 1.0)) AS INT), 1) ELSE w END AS w2
           | FROM f)
           |SELECT kind, count(*) AS cnt, CAST(sum(sz) AS BIGINT) AS total_bytes,
           |  max(w2) AS max_w, max(dur) AS max_dur
           |FROM r GROUP BY kind ORDER BY kind""".stripMargin,
      "q_multimodal_frames" ->
        s"""WITH b AS (SELECT doc_id, ['image','audio','video'][CAST(doc_id % 3 AS INT)+1] AS kind,
           |            encode(text) AS bytes FROM documents),
           |h AS (SELECT doc_id, kind, bytes, $fnvSql AS fnv FROM b)
           |SELECT doc_id AS media_id, CAST(4 AS BIGINT) AS n_frames,
           |  1000 + CAST(${mixSql(4)} % 65536 AS BIGINT) AS max_pts,
           |  CAST(4 * LEAST(16, octet_length(bytes)) AS BIGINT) AS payload_bytes
           |FROM h WHERE kind = 'video' ORDER BY media_id""".stripMargin,
      // the REAL-decode gates: the oracle restates the encoder's inputs;
      // the engine sees only bytes and must parse them back (BMP DIB
      // header + pixel rows, WAV fmt/data chunks, Y4M stream header)
      "q_media_bmp" ->
        """SELECT doc_id AS media_id, CAST(doc_id % 5 AS INT) + 1 AS width,
          |  2 AS height, 3 AS channels,
          |  CAST(FLOOR((length(text) % 256) / 32.0) AS INT) AS luma_bin
          |FROM documents WHERE doc_id < 120 ORDER BY media_id""".stripMargin,
      "q_media_wav" ->
        """SELECT doc_id AS media_id, CAST(doc_id % 2 AS INT) + 1 AS channels,
          |  8000 AS sample_rate,
          |  CAST((length(text) % 100 + 1) * 10 AS BIGINT) AS duration_ms,
          |  CAST(doc_id % 8 AS INT) AS amp_bin
          |FROM documents WHERE doc_id < 120 ORDER BY media_id""".stripMargin,
      "q_media_resize" ->
        """WITH g AS (SELECT doc_id,
          |    CAST(doc_id % 6 AS INT) + 2 AS w, CAST(doc_id % 4 AS INT) + 1 AS h,
          |    length(text) % 256 AS gray
          |  FROM documents WHERE doc_id < 120),
          |s AS (SELECT doc_id, gray,
          |    LEAST(3.0 / w, 3.0 / h, 1.0) AS sc, w, h FROM g)
          |SELECT doc_id AS media_id,
          |  GREATEST(CAST(FLOOR(w * sc) AS INT), 1) AS width,
          |  GREATEST(CAST(FLOOR(h * sc) AS INT), 1) AS height,
          |  CAST(FLOOR(gray / 32.0) AS INT) AS luma_bin
          |FROM s ORDER BY media_id""".stripMargin,
      "q_media_y4m" ->
        """SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
          |  CAST(i * (CAST(doc_id % 3 AS INT) + 1) * 100 AS BIGINT) AS pts_ms,
          |  12 AS frame_bytes
          |FROM documents, range(2) t(i)
          |WHERE doc_id < 120 ORDER BY media_id, frame_idx""".stripMargin,
      "q_events_retention" ->
        """WITH f AS (SELECT user_id,
          |    CAST(date_diff('day', DATE '1970-01-01', CAST(min(ts) AS DATE)) AS INT) AS cohort
          |  FROM events GROUP BY 1),
          |a AS (SELECT DISTINCT user_id,
          |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INT) AS m
          |  FROM events)
          |SELECT f.cohort AS cohort_period, a.m - f.cohort AS periods_since,
          |  count(*) AS n_users
          |FROM a JOIN f ON a.user_id = f.user_id
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q_events_funnel_window" ->
        """WITH t0 AS (SELECT user_id, min(ts) AS t FROM events
          |  WHERE event_type = 'view' GROUP BY 1),
          |t1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
          |  JOIN t0 ON e.user_id = t0.user_id
          |  WHERE e.event_type = 'click' AND e.ts > t0.t
          |    AND epoch_ms(e.ts) - epoch_ms(t0.t) <= 7200000 GROUP BY 1),
          |t2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
          |  JOIN t1 ON e.user_id = t1.user_id
          |  WHERE e.event_type = 'purchase' AND e.ts > t1.t
          |    AND epoch_ms(e.ts) - epoch_ms(t1.t) <= 7200000 GROUP BY 1)
          |SELECT user_id, step, CAST(epoch_ms(t) AS BIGINT) AS ts_ms FROM (
          |  SELECT user_id, 0 AS step, t FROM t0
          |  UNION ALL SELECT user_id, 1 AS step, t FROM t1
          |  UNION ALL SELECT user_id, 2 AS step, t FROM t2)
          |ORDER BY user_id, step""".stripMargin,
      "q_events_funnel" ->
        """WITH t0 AS (SELECT user_id, min(ts) AS t FROM events
          |  WHERE event_type = 'view' GROUP BY 1),
          |t1 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
          |  JOIN t0 ON e.user_id = t0.user_id
          |  WHERE e.event_type = 'click' AND e.ts > t0.t GROUP BY 1),
          |t2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
          |  JOIN t1 ON e.user_id = t1.user_id
          |  WHERE e.event_type = 'purchase' AND e.ts > t1.t GROUP BY 1)
          |SELECT user_id, step, CAST(epoch_ms(t) AS BIGINT) AS ts_ms FROM (
          |  SELECT user_id, 0 AS step, t FROM t0
          |  UNION ALL SELECT user_id, 1 AS step, t FROM t1
          |  UNION ALL SELECT user_id, 2 AS step, t FROM t2)
          |ORDER BY user_id, step""".stripMargin,
      "q_events_hop" ->
        s"""WITH h AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS w1, event_type, value FROM events),
           |u AS (SELECT w1 AS wstart, event_type, value FROM h
           |      UNION ALL
           |      SELECT w1 - INTERVAL '30 minutes' AS wstart, event_type, value FROM h)
           |SELECT CAST(epoch(wstart) AS BIGINT) AS ws, event_type,
           |  count(*) AS cnt, ${dec("value")} AS sum_value
           |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "q_percentile" ->
        """SELECT l_returnflag,
          |  quantile_cont(l_quantity, 0.5) AS p50,
          |  quantile_cont(l_quantity, 0.9) AS p90,
          |  quantile_cont(l_extendedprice, 0.25) AS price_p25
          |FROM lineitem
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin,
      "q_asof_join" ->
        """WITH v AS (
          |  SELECT user_id, ts, value FROM (
          |    SELECT user_id, ts, value,
          |      row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
          |    FROM events WHERE event_type = 'view') dv
          |  WHERE rn = 1),
          |p AS (SELECT user_id, ts, value FROM events
          |      WHERE event_type = 'purchase' AND user_id < 30)
          |SELECT p.user_id, CAST(epoch_ms(p.ts) AS BIGINT) AS p_ms, p.value AS p_value,
          |  CAST(epoch_ms(v.ts) AS BIGINT) AS v_ms, v.value AS v_value
          |FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
          |ORDER BY p.user_id, p_ms""".stripMargin,
      "q_direct_spec" ->
        s"""SELECT c_mktsegment, l_returnflag, count(*) AS cnt,
           |  ${dec("l_extendedprice")} AS sum_price,
           |  max(l_quantity) AS max_qty
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |WHERE l_returnflag >= 'N'
           |  AND l_shipdate >= TIMESTAMP '1993-01-01'
           |  AND l_shipdate < TIMESTAMP '1998-01-01'
           |GROUP BY 1, 2
           |ORDER BY 1, 2""".stripMargin,
      "q_direct_extraction" ->
        s"""SELECT substring(p_type, 1, 3) AS t3,
           |  CASE l_returnflag WHEN 'R' THEN 'returned'
           |       WHEN 'A' THEN 'accepted' ELSE 'other' END AS flag,
           |  count(*) AS cnt,
           |  ${dec("CASE WHEN l_quantity >= 25 THEN l_quantity END")} AS hi_qty
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN part ON l_partkey = p_partkey
           |WHERE regexp_matches(c_mktsegment, '^(BU|MA)')
           |GROUP BY 1, 2
           |ORDER BY 1, 2""".stripMargin,
      "q_direct_topn_lex" ->
        s"""SELECT c_mktsegment, count(*) AS cnt,
           |  ${dec("l_quantity")} AS sum_qty
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |WHERE c_mktsegment > 'AUTOMOBILE'
           |  AND l_shipdate >= TIMESTAMP '1994-01-01'
           |  AND l_shipdate < TIMESTAMP '1997-01-01'
           |GROUP BY 1
           |ORDER BY c_mktsegment
           |LIMIT 3""".stripMargin,
      "q_direct_select" ->
        """SELECT CAST(epoch_ms(l_shipdate) AS BIGINT) AS ts_ms,
          |  l_returnflag, l_linestatus, l_quantity, l_extendedprice
          |FROM lineitem
          |WHERE l_returnflag = 'R'
          |  AND l_shipdate >= TIMESTAMP '1995-06-01'
          |  AND l_shipdate < TIMESTAMP '1995-06-08'
          |ORDER BY l_shipdate, l_returnflag, l_linestatus, l_quantity,
          |  l_extendedprice
          |LIMIT 200""".stripMargin,
      "q_direct_scan" ->
        """SELECT CAST(epoch_ms(l_shipdate) AS BIGINT) AS ts_ms,
          |  l_returnflag, l_quantity
          |FROM lineitem
          |WHERE l_linestatus = 'F'
          |  AND l_shipdate >= TIMESTAMP '1995-06-01'
          |  AND l_shipdate < TIMESTAMP '1995-06-05'
          |ORDER BY l_shipdate DESC, l_returnflag, l_quantity
          |LIMIT 30""".stripMargin,
      "q_direct_search" ->
        """SELECT dimension, value, cnt FROM (
          |  SELECT 'c_mktsegment' AS dimension, c_mktsegment AS value,
          |    count(*) AS cnt
          |  FROM lineitem
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  WHERE contains(lower(c_mktsegment), 'o')
          |    AND l_shipdate >= TIMESTAMP '1996-01-01'
          |    AND l_shipdate < TIMESTAMP '1997-01-01'
          |  GROUP BY 2
          |  UNION ALL
          |  SELECT 'o_orderpriority', o_orderpriority, count(*)
          |  FROM lineitem
          |  JOIN orders ON l_orderkey = o_orderkey
          |  WHERE contains(lower(o_orderpriority), 'o')
          |    AND l_shipdate >= TIMESTAMP '1996-01-01'
          |    AND l_shipdate < TIMESTAMP '1997-01-01'
          |  GROUP BY 2
          |) ORDER BY dimension, value""".stripMargin,
      "q_direct_segments" ->
        """SELECT CAST((year(l_shipdate) - 1970) * 12 + month(l_shipdate) - 1
          |    AS INTEGER) AS segment,
          |  count(*) AS num_rows,
          |  CAST(epoch_us(min(l_shipdate)) AS BIGINT) AS t_min_us,
          |  CAST(epoch_us(max(l_shipdate)) AS BIGINT) AS t_max_us
          |FROM lineitem
          |GROUP BY 1
          |ORDER BY 1""".stripMargin,
      "q_direct_post" ->
        """WITH g AS (
          |  SELECT c_mktsegment, l_returnflag, count(*) AS cnt,
          |    CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
          |    CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
          |  FROM lineitem
          |  JOIN orders ON l_orderkey = o_orderkey
          |  JOIN customer ON o_custkey = c_custkey
          |  WHERE l_shipdate >= TIMESTAMP '1994-01-01'
          |    AND l_shipdate < TIMESTAMP '1997-01-01'
          |  GROUP BY 1, 2),
          |p AS (SELECT *, sum_qty / cnt AS avg_qty,
          |        0.5 * (sum_price - sum_qty) AS scaled FROM g)
          |SELECT c_mktsegment, l_returnflag, cnt, sum_qty, sum_price,
          |  avg_qty, scaled
          |FROM p
          |WHERE cnt > 100 AND NOT (avg_qty < 10)
          |ORDER BY avg_qty DESC, c_mktsegment, l_returnflag
          |LIMIT 8""".stripMargin,
      "q_events_sessions_native" ->
        s"""WITH x AS (SELECT user_id, ts, value,
           |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events),
           |y AS (SELECT user_id, ts, value,
           |    CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) >= 1800000000 THEN 1 ELSE 0 END AS nw
           |  FROM x),
           |z AS (SELECT user_id, ts, value,
           |    SUM(nw) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
           |  FROM y)
           |SELECT user_id, CAST(epoch_ms(min(ts)) AS BIGINT) AS s_ms,
           |  CAST(epoch_ms(max(ts) + INTERVAL 30 MINUTE) AS BIGINT) AS e_ms,
           |  count(*) AS n_events, ${dec("value")} AS total_value
           |FROM z GROUP BY user_id, sess
           |ORDER BY user_id, s_ms""".stripMargin,
      "q_events_attrib" ->
        """WITH p AS (SELECT user_id, ts, value FROM events
          |          WHERE event_type = 'purchase' AND user_id < 30),
          |v AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view')
          |SELECT p.user_id, CAST(epoch_ms(p.ts) AS BIGINT) AS p_ms,
          |  p.value AS p_value,
          |  CAST(epoch_ms(v.ts) AS BIGINT) AS v_ms, v.value AS v_value
          |FROM p JOIN v ON p.user_id = v.user_id
          |  AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 60 MINUTE
          |ORDER BY p.user_id, p_ms, v_ms""".stripMargin,
      "q_range_join" ->
        s"""WITH bands(band, lo, hi) AS (VALUES
           |  ('low', -1000.0, 2000.0), ('mid', 1500.0, 6000.0),
           |  ('high', 5500.0, 9000.0), ('all', -1000.0, 10000.0))
           |SELECT band, count(*) AS cnt, ${dec("c_acctbal")} AS sum_bal
           |FROM customer JOIN bands ON c_acctbal >= lo AND c_acctbal <= hi
           |GROUP BY band
           |ORDER BY band""".stripMargin,
      "q_knn_exact" ->
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
           |c AS (SELECT q.qid, e.vec_id,
           |  ${dotSql("e.embedding", "q.qe")} /
           |  (sqrt(${dotSql("e.embedding", "e.embedding")}) *
           |   sqrt(${dotSql("q.qe", "q.qe")})) AS cosine
           |FROM embeddings e, q),
           |r AS (SELECT qid AS qid_q, vec_id AS vec_id_n, cosine,
           |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
           |FROM c)
           |SELECT qid_q, vec_id_n, cosine, rank FROM r WHERE rank <= 3
           |ORDER BY qid_q, rank""".stripMargin,
      // FULL restatement of the banded-LSH k-NN join (not just its exact
      // twin): the hyperplanes are splitmix64 arithmetic (planeSql), band
      // buckets join on raw sign slices (bucket equality == slice equality
      // — the engine's xxhash64 only compresses the key), candidates rerank
      // by the same sequential-fold cosine. The ORACLE replays the
      // approximation, so recall loss vs q_knn_exact is verified as
      // *deterministic* behavior, not waved through rows-only.
      "q_knn_join" ->
        s"""WITH sigs AS (
           |  ${rhpSigsSql(16)}),
           |qb AS (SELECT vec_id AS qid, b AS band, array_to_string(sig[CAST(b*4+1 AS INT):CAST(b*4+4 AS INT)], ',') AS slice
           |       FROM sigs, range(4) t(b) WHERE vec_id < 5),
           |cb AS (SELECT vec_id AS nid, b AS band, array_to_string(sig[CAST(b*4+1 AS INT):CAST(b*4+4 AS INT)], ',') AS slice
           |       FROM sigs, range(4) t(b)),
           |cand AS (SELECT DISTINCT qid, nid FROM qb JOIN cb USING (band, slice)),
           |sc AS (SELECT c.qid, c.nid,
           |    ${cosineSql("q.embedding", "n.embedding")} AS cosine
           |  FROM cand c JOIN embeddings q ON q.vec_id = c.qid JOIN embeddings n ON n.vec_id = c.nid),
           |rk AS (SELECT qid, nid, cosine,
           |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS INT) AS rank FROM sc)
           |SELECT qid AS qid_q, nid AS vec_id_n, cosine, rank FROM rk WHERE rank <= 3
           |ORDER BY qid_q, rank""".stripMargin,
      // same treatment for the Hamming-ball IVF probe (sign signature,
      // >=4 of 6 matching bits, exact cosine top-10)
      "q_ann_ivf" ->
        s"""WITH sigs AS (
           |  ${rhpSigsSql(6)}),
           |q AS (SELECT sig AS qsig, embedding AS qvec FROM sigs WHERE vec_id = 0),
           |probe AS (
           |  SELECT s.vec_id, s.embedding, q.qvec
           |  FROM sigs s, q
           |  WHERE len(list_filter(list_transform(generate_series(1, 6), i ->
           |          CASE WHEN s.sig[i] = q.qsig[i] THEN 1 ELSE 0 END), x -> x = 1)) >= 4),
           |sc AS (SELECT vec_id, ${cosineSql("embedding", "qvec")} AS cosine
           |  FROM probe)
           |SELECT vec_id, cosine FROM sc ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
      // q_ann_recluster serves at FULL probe, so the reclustered store's
      // answer must equal plain brute-force cosine top-10 over the base
      // table — the oracle proves the maintenance rewrite preserved every
      // row and serves exact cosines, with no trained artifact to inline
      "q_ann_recluster" ->
        s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |sc AS (SELECT vec_id, ${cosineSql("embedding", "qvec")} AS cosine
           |  FROM embeddings, q)
           |SELECT vec_id, cosine FROM sc ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
      // q_ann_ingest_compact also serves at FULL probe, and base ∪
      // appended is the whole embeddings table — so the same brute-force
      // restatement proves the ingest+compact cycle preserved every row
      "q_ann_ingest_compact" ->
        s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |sc AS (SELECT vec_id, ${cosineSql("embedding", "qvec")} AS cosine
           |  FROM embeddings, q)
           |SELECT vec_id, cosine FROM sc ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
      // q_ann_delete serves the KEPT rows at full probe: brute force over
      // embeddings minus the deleted residue class proves the anti-join
      // removed exactly the requested ids and nothing else
      "q_ann_delete" ->
        s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |sc AS (SELECT vec_id, ${cosineSql("embedding", "qvec")} AS cosine
           |  FROM embeddings, q WHERE vec_id % 7 <> 3)
           |SELECT vec_id, cosine FROM sc ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
      // q_ann_tombstone: same kept-rows brute force, residue class 1
      // (mod 5) — the logical (pre-fold) serve must already exclude it
      "q_ann_tombstone" ->
        s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |sc AS (SELECT vec_id, ${cosineSql("embedding", "qvec")} AS cosine
           |  FROM embeddings, q WHERE vec_id % 5 <> 1)
           |SELECT vec_id, cosine FROM sc ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
      // q_ann_tombstone_fold: kept-rows brute force, residue class 2
      // (mod 7) — the serve reads the PLAIN post-fold store, so only the
      // compaction's physical deletes can produce this answer
      "q_ann_tombstone_fold" ->
        s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |sc AS (SELECT vec_id, ${cosineSql("embedding", "qvec")} AS cosine
           |  FROM embeddings, q WHERE vec_id % 7 <> 2)
           |SELECT vec_id, cosine FROM sc ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
      // q_ann_manifest: kept-rows brute force, residue class 4 (mod 5) —
      // the serve reads the plain post-fold MANIFEST store (base ∪
      // ingested = the whole table, minus the folded tombstones), so the
      // object-store protocol's publication + capture + fold must all be
      // right for this to match
      "q_ann_manifest" ->
        s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |sc AS (SELECT vec_id, ${cosineSql("embedding", "qvec")} AS cosine
           |  FROM embeddings, q WHERE vec_id % 5 <> 4)
           |SELECT vec_id, cosine FROM sc ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
      // q_ann_pinned: the pinned snapshot is the world AS OF PIN TIME —
      // full-probe serve over it equals brute force over ALL rows,
      // despite the delete + recluster that rewrote the live store after
      // the pin (residue class 3 mod 7 is gone from the LIVE store only)
      "q_ann_pinned" ->
        s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |sc AS (SELECT vec_id, ${cosineSql("embedding", "qvec")} AS cosine
           |  FROM embeddings, q)
           |SELECT vec_id, cosine FROM sc ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
      // q_ann_migrated: kept-rows brute force, residue class 5 (mod 8)
      // — the serve reads the MIGRATED destination (manifest protocol
      // over the Hadoop binding) with the migration's CARRIED pending
      // tombstones, so the faithful-clone semantics (data + layout +
      // pending deletes) must all survive the protocol move to match
      "q_ann_migrated" ->
        s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |sc AS (SELECT vec_id, ${cosineSql("embedding", "qvec")} AS cosine
           |  FROM embeddings, q WHERE vec_id % 8 <> 5)
           |SELECT vec_id, cosine FROM sc ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
      // brute-force all-pairs restatement of embeddingDupPairs: confirms the
      // LSH+verify path is exact on this corpus — including that an empty
      // answer really is empty (the data's max pairwise cosine is ~0.51, so
      // zero pairs at 0.9 is the CORRECT result, and any false positive the
      // LSH path produced would fail this oracle)
      "q_dedup_embedding" ->
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |p AS (SELECT a.vec_id AS idA, b.vec_id AS idB,
           |  ${dotSql("a.embedding", "b.embedding")} /
           |  (sqrt(${dotSql("a.embedding", "a.embedding")}) *
           |   sqrt(${dotSql("b.embedding", "b.embedding")})) AS cosine
           |FROM e a JOIN e b ON a.vec_id < b.vec_id)
           |SELECT idA, idB, cosine FROM p WHERE cosine >= 0.9
           |ORDER BY idA, idB""".stripMargin,
      "q_events_sessionize" ->
        s"""WITH x AS (SELECT user_id, ts, value,
           |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events),
           |y AS (SELECT user_id, ts, value,
           |    CASE WHEN prev IS NULL OR epoch_ms(ts) - epoch_ms(prev) > 1800000 THEN 1 ELSE 0 END AS nw
           |  FROM x),
           |z AS (SELECT user_id, ts, value,
           |    SUM(nw) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess
           |  FROM y)
           |SELECT user_id, CAST(epoch_ms(min(ts)) AS BIGINT) AS start_ms,
           |  CAST(epoch_ms(max(ts)) AS BIGINT) AS end_ms,
           |  count(*) AS n_events, ${dec("value")} AS total_value
           |FROM z GROUP BY user_id, sess
           |ORDER BY user_id, start_ms""".stripMargin)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q7-shape on the flat cube — the reference's flagship win
    * (reference `docs/benchmark/BenchMarkDetails.org:525-537`).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q07_nation_volume")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val sqlDriven: Map[String, (SparkSession, String) => DataFrame] =
      (StarQueries.all ++ ScalarQueries.all ++ CompatQueries.sparkSql).map {
        case (name, sql) =>
          name -> { (s: SparkSession, dir: String) => engine(s, dir); s.sql(sql) }
      }
    sqlDriven ++ PipelineQueries.sparkQueries ++ Map[String, (SparkSession, String) => DataFrame](
      // TPC-H Q18 rewritten for scale (oracle stays the canonical IN-subquery
      // SQL): the HAVING subquery already computes the very per-order sum the
      // outer aggregate re-derives — one lineitem aggregation feeds both the
      // filter and the output, so the fact shuffles once, and the orders /
      // customer legs join the (tiny) filtered order list
      "q18_large_orders" -> { (s, dir) =>
        val big = Tables.t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(dsum(col("l_quantity")).as("sum_qty"))
          .filter(col("sum_qty") > 140.0)
        big
          .join(Tables.t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").cast("string").as("odate"),
            col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(20)
      },
      // TPC-H Q21 rewritten for scale (oracle stays the canonical
      // EXISTS/NOT-EXISTS SQL): the two correlated subqueries are three
      // shuffled passes over lineitem as semi/anti joins; the equivalent
      // per-order statistics — ≥2 distinct suppliers, exactly 1 distinct
      // supplier among 'R' lines (necessarily l1's own) — need ONE
      // aggregation of lineitem and one join back. At 100 TB that is one
      // fact shuffle instead of three.
      "q21_waiting_supplier" -> { (s, dir) =>
        val li = Tables.t(s, dir, "lineitem")
        // two distinct aggregates over one grouping would plan as an Expand
        // (2x the fact rows through the shuffle); aggregating per
        // (order, supplier) first then per order moves the same information
        // in 1x rows — the distinct-heavy shape's scalable form.
        //
        // The per-order aggregate carries the R-row COUNT and the (single)
        // R supplier's key out of the same pass: under n_r_supp = 1 every R
        // row of a qualifying order belongs to that one supplier, so
        // numwait = sum of per-order R-row counts — the former second
        // lineitem scan + fact-sized join back onto the R rows computed
        // nothing the first aggregate didn't already know (one scan and
        // one fact shuffle instead of two of each)
        val stats = li
          .groupBy(col("l_orderkey").as("g_ok"), col("l_suppkey").as("g_sk"))
          .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("g_r_cnt"))
          .groupBy("g_ok")
          .agg(count(lit(1)).as("n_supp"),
            sum(when(col("g_r_cnt") > 0, 1).otherwise(0)).as("n_r_supp"),
            sum(col("g_r_cnt")).as("g_r_rows"),
            max(when(col("g_r_cnt") > 0, col("g_sk"))).as("g_r_sk"))
          .filter(col("n_supp") >= 2 && col("n_r_supp") === 1)
        stats
          .join(Tables.t(s, dir, "orders")
              .filter(col("o_orderstatus") === "F").select("o_orderkey"),
            col("g_ok") === col("o_orderkey"))
          .join(broadcast(Tables.t(s, dir, "supplier")
            .select("s_suppkey", "s_name")),
            col("g_r_sk") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(sum(col("g_r_rows")).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(10)
      },
      // TPC-H Q17 rewritten for scale (oracle stays the canonical
      // correlated-subquery SQL): Spark decorrelates the per-part average
      // into an aggregation of the ENTIRE fact table, joined to the tiny
      // brand slice — a full fact shuffle for a 1/25th-of-partkeys answer.
      // The per-part threshold only needs the rows that survive the brand
      // filter (partkey determines brand), so a window over the filtered
      // slice computes it with ONE cube scan and one slice-sized shuffle.
      "q17_small_qty_revenue" -> { (s, dir) =>
        engine(s, dir)
        s.sql(
          """WITH liP AS (
            |  SELECT l_partkey, l_quantity, l_extendedprice
            |  FROM lineitem JOIN part ON p_partkey = l_partkey
            |  WHERE p_brand = 'Brand#3' AND p_type = 'ECONOMY'),
            |t AS (SELECT l_quantity, l_extendedprice,
            |        CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) OVER (PARTITION BY l_partkey) AS DOUBLE)
            |          / (5.0 * count(*) OVER (PARTITION BY l_partkey)) AS thresh
            |      FROM liP)
            |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / 7.0 AS avg_yearly
            |FROM t WHERE l_quantity < thresh""".stripMargin)
      },
      // ---- §2.4 aggregations ----------------------------------------------
      "q01_pricing_summary" -> { (s, dir) =>
        Tables.t(s, dir, "lineitem")
          .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
            (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
            (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      "q02_basic_agg" -> { (s, dir) =>
        // "Basic Aggregation" benchmark shape: 2 dims, count/sum/max/avg/
        // distinct — through the engine so the star join collapses to the
        // cube scan (the reference's 13.5x headline case)
        engine(s, dir)
        s.sql(
          """SELECT c_mktsegment, l_returnflag, l_extendedprice, l_quantity, o_custkey
            |FROM lineitem
            |JOIN orders ON l_orderkey = o_orderkey
            |JOIN customer ON o_custkey = c_custkey""".stripMargin)
          .groupBy("c_mktsegment", "l_returnflag")
          .agg(
            count(lit(1)).as("cnt"),
            dsum(col("l_extendedprice")).as("sum_price"),
            max(col("l_quantity")).as("max_qty"),
            (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            countDistinct(col("o_custkey")).as("n_cust"))
          .orderBy("c_mktsegment", "l_returnflag")
      },
      // ---- §2.3 star join collapse + §2.9 time extraction -------------------
      "q07_nation_volume" -> { (s, dir) =>
        engine(s, dir)
        s.sql(
          s"""SELECT sn.n_name AS s_nation, cn.n_name AS c_nation,
             |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
             |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation cn ON c_nationkey = cn.n_nationkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation sn ON s_nationkey = sn.n_nationkey
             |WHERE (sn.n_name = 'NATION_20' AND cn.n_name = 'NATION_11')
             |   OR (sn.n_name = 'NATION_11' AND cn.n_name = 'NATION_20')
             |GROUP BY 1, 2, 3
             |ORDER BY 1, 2, 3""".stripMargin)
      },
      // ---- §2.2 spatial rectangle filter (reference SpatialFilterSpec:
      // ours = per-axis range predicates, bounds intersected pre-plan) ----
      "q_spatial_rect" -> { (s, dir) =>
        import graft.functions.SpatialFunctions._
        engine(s, dir)
        val rect = Rect(0.0, 5000.0, 1000.0, 8000.0)
        val narrower = Rect(500.0, 9999.0, 0.0, 7000.0)
        s.sql(
          """SELECT c_mktsegment, c_acctbal, s_acctbal FROM lineitem
            |JOIN orders ON l_orderkey = o_orderkey
            |JOIN customer ON o_custkey = c_custkey
            |JOIN supplier ON l_suppkey = s_suppkey""".stripMargin)
          .filter(rectsContain(col("c_acctbal"), col("s_acctbal"),
            Seq(rect, narrower)))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("cnt"), dsum(col("c_acctbal")).as("sum_x"))
          .orderBy("c_mktsegment")
      },
      // §2.4 approximate count-distinct over a KMV (theta-style) sketch —
      // k > NDV at test scale, so the estimate is exact and oracle-checked
      // against true count(DISTINCT); accuracy beyond k is spec-tested
      "q_theta_distinct" -> { (s, dir) =>
        engine(s, dir)
        s.sql(
          """SELECT l_returnflag,
            |  kmv_distinct(l_partkey) AS nd_part,
            |  kmv_distinct(l_suppkey) AS nd_supp,
            |  count(*) AS cnt
            |FROM lineitem
            |GROUP BY l_returnflag
            |ORDER BY l_returnflag""".stripMargin)
      },
      // theta-sketch SET OPERATIONS (Druid exposes these as theta post-
      // aggregations; the reference stores theta-sketch metric columns):
      // audience overlap between two event cohorts from two sketches —
      // exact below k, hence the INTERSECT/EXCEPT oracle
      "q_theta_setops" -> { (s, dir) =>
        engine(s, dir)
        Tables.events(s, dir).createOrReplaceTempView("events")
        s.sql(
          """SELECT kmv_intersect_estimate(v.sk, p.sk) AS n_both,
            |  kmv_difference_estimate(v.sk, p.sk) AS n_view_only,
            |  kmv_difference_estimate(p.sk, v.sk) AS n_purchase_only
            |FROM (SELECT kmv_sketch(user_id) AS sk FROM events
            |      WHERE event_type = 'view') v
            |CROSS JOIN (SELECT kmv_sketch(user_id) AS sk FROM events
            |            WHERE event_type = 'purchase') p""".stripMargin)
      },
      // dim-sliced interval query ("SubQry+filters+range" benchmark shape,
      // the reference's 357x headline): written against the BASE star
      // tables so the full route earns the win — star collapse onto the
      // cube, time-bucket pruning, then the month-aligned dim-only shape
      // serves from the rollup lattice without touching facts. The bench's
      // raw re-run (rewrites off) executes this same SQL as a 4-way join.
      "q_subqry_filters_range" -> { (s, dir) =>
        engine(s, dir)
        s.sql(
          s"""SELECT sn.n_name AS s_nation, count(*) AS cnt,
             |  ${dsumSql("l_quantity")} AS sum_qty
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation sn ON s_nationkey = sn.n_nationkey
             |WHERE sn.n_name IN ('NATION_3', 'NATION_9', 'NATION_17')
             |  AND c_mktsegment = 'MACHINERY'
             |  AND l_shipdate >= TIMESTAMP '1996-03-01'
             |  AND l_shipdate < TIMESTAMP '1996-09-01'
             |GROUP BY 1
             |ORDER BY 1""".stripMargin)
      })
  }

  /** Oracles whose SQL inlines a TRAINED artifact (centroids, merge
    * table) and therefore only exists after the queries ran — Verify's
    * run-then-dump order guarantees it; static tooling (QCheck) should
    * report these as deferred, not missing.
    */
  val deferredOracleNames: Set[String] = Set(
    "q_ann_kmeans", "q_ann_store", "q_ann_store_batch", "q_bpe_encode",
    "q_bpe_batched", "q_bpe_ids", "q_pack_bpe")

  def oracleSql: Map[String, String] = StarQueries.all ++ ScalarQueries.all ++
    CompatQueries.oracles ++ PipelineQueries.oracles ++
    PipelineQueries.annKmeansOracle ++ PipelineQueries.bpeOracle ++
    PipelineQueries.bpeBatchedOracle ++
    PipelineQueries.bpePackOracle ++ PipelineQueries.bpeIdsOracle ++ Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
         |  ${dsumSql("l_quantity")} / count(*) AS avg_qty,
         |  ${dsumSql("l_extendedprice")} / count(*) AS avg_price,
         |  ${dsumSql("l_discount")} / count(*) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_basic_agg" -> withFlat(
      s"""SELECT c_mktsegment, l_returnflag,
         |  count(*) AS cnt,
         |  ${dsumSql("l_extendedprice")} AS sum_price,
         |  max(l_quantity) AS max_qty,
         |  ${dsumSql("l_quantity")} / count(*) AS avg_qty,
         |  count(DISTINCT o_custkey) AS n_cust
         |FROM olps
         |GROUP BY c_mktsegment, l_returnflag
         |ORDER BY c_mktsegment, l_returnflag""".stripMargin),
    "q07_nation_volume" -> withFlat(
      s"""SELECT s_nation, c_nation,
         |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM olps
         |WHERE (s_nation = 'NATION_20' AND c_nation = 'NATION_11')
         |   OR (s_nation = 'NATION_11' AND c_nation = 'NATION_20')
         |GROUP BY s_nation, c_nation, l_year
         |ORDER BY s_nation, c_nation, l_year""".stripMargin),
    "q_auto_rollup" -> withFlat(
      s"""SELECT c_mktsegment, l_returnflag, count(*) AS cnt,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} / count(*) AS avg_price,
         |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
         |FROM olps
         |GROUP BY c_mktsegment, l_returnflag
         |ORDER BY c_mktsegment, l_returnflag""".stripMargin),
    "q_rollup_reagg" -> withFlat(
      s"""SELECT c_mktsegment, l_returnflag, count(*) AS cnt,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} / count(*) AS avg_price
         |FROM olps
         |GROUP BY c_mktsegment, l_returnflag
         |ORDER BY c_mktsegment, l_returnflag""".stripMargin),
    "q_theta_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS nd_part,
        |  count(DISTINCT l_suppkey) AS nd_supp,
        |  count(*) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_theta_setops" ->
      """SELECT
        |  (SELECT count(*) FROM (
        |     SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
        |     INTERSECT
        |     SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')) AS n_both,
        |  (SELECT count(*) FROM (
        |     SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
        |     EXCEPT
        |     SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')) AS n_view_only,
        |  (SELECT count(*) FROM (
        |     SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |     EXCEPT
        |     SELECT DISTINCT user_id FROM events WHERE event_type = 'view')) AS n_purchase_only""".stripMargin,
    "q_rollup_theta" -> withFlat(
      """SELECT c_mktsegment, count(*) AS cnt,
        |  count(DISTINCT o_custkey) AS n_cust
        |FROM olps
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),
    "q_rollup_hll" -> withFlat(
      """SELECT c_mktsegment, count(*) AS cnt,
        |  count(DISTINCT o_custkey) AS n_cust_approx
        |FROM olps
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin),
    "q_rollup_quantile" -> withFlat(
      """SELECT c_mktsegment, l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS p50_price,
        |  quantile_cont(l_extendedprice, 0.95) AS p95_price,
        |  count(*) AS cnt
        |FROM olps
        |GROUP BY c_mktsegment, l_returnflag
        |ORDER BY c_mktsegment, l_returnflag""".stripMargin),
    "q_spatial_rect" -> withFlat(
      s"""SELECT c_mktsegment, count(*) AS cnt, ${dsumSql("c_acctbal")} AS sum_x
         |FROM olps
         |WHERE c_acctbal >= 500.0 AND c_acctbal < 5000.0
         |  AND s_acctbal >= 1000.0 AND s_acctbal < 7000.0
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin),
    "q_subqry_filters_range" -> withFlat(
      s"""SELECT s_nation, count(*) AS cnt, ${dsumSql("l_quantity")} AS sum_qty
         |FROM olps
         |WHERE s_nation IN ('NATION_3', 'NATION_9', 'NATION_17')
         |  AND c_mktsegment = 'MACHINERY'
         |  AND l_shipdate >= TIMESTAMP '1996-03-01'
         |  AND l_shipdate < TIMESTAMP '1996-09-01'
         |GROUP BY s_nation
         |ORDER BY s_nation""".stripMargin),
    // heavy hitters: counts are exact below the sketch's k (err = 0), so
    // the ranking restates as plain GROUP BY / ORDER BY
    "q_freq_items" ->
      """SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey, count(*) AS cnt,
        |  CAST(0 AS BIGINT) AS err
        |FROM lineitem
        |GROUP BY 1
        |ORDER BY cnt DESC, l_suppkey
        |LIMIT 10""".stripMargin,
    "q_topn_sketch" -> withFlat(
      """SELECT l_suppkey, count(*) AS cnt
        |FROM olps
        |WHERE c_mktsegment = 'MACHINERY'
        |GROUP BY l_suppkey
        |ORDER BY cnt DESC, l_suppkey
        |LIMIT 10""".stripMargin),
    "q_topn_grouped" -> withFlat(
      """SELECT c_mktsegment, l_suppkey, cnt FROM (
        |  SELECT c_mktsegment, l_suppkey, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY count(*) DESC, l_suppkey) AS rk
        |  FROM olps
        |  GROUP BY c_mktsegment, l_suppkey)
        |WHERE rk <= 3
        |ORDER BY c_mktsegment, cnt DESC, l_suppkey""".stripMargin),
    "q_topn_weighted" -> withFlat(
      """SELECT l_suppkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS volume
        |FROM olps
        |WHERE c_mktsegment = 'MACHINERY'
        |GROUP BY l_suppkey
        |ORDER BY volume DESC, l_suppkey
        |LIMIT 7""".stripMargin),
    // rollup TopN: the sketch ranks (cnt desc, item-string asc); the oracle
    // ranks the raw joined rows with the same key
    "q_rollup_topn" -> withFlat(
      """, c AS (
        |  SELECT c_mktsegment, l_suppkey, count(*) AS supp_cnt
        |  FROM olps GROUP BY 1, 2),
        |r AS (
        |  SELECT c_mktsegment, l_suppkey, supp_cnt,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY supp_cnt DESC, CAST(l_suppkey AS VARCHAR)) AS rank,
        |    sum(supp_cnt) OVER (PARTITION BY c_mktsegment) AS cnt
        |  FROM c)
        |SELECT c_mktsegment, CAST(cnt AS BIGINT) AS cnt, CAST(rank AS INT) AS rank,
        |  CAST(l_suppkey AS BIGINT) AS l_suppkey, supp_cnt, CAST(0 AS BIGINT) AS err
        |FROM r WHERE rank <= 5
        |ORDER BY c_mktsegment, rank""".stripMargin),
    "q_text_redact" ->
      """SELECT s_suppkey,
        |  CASE WHEN length(s_name) <= 4 THEN s_name
        |       ELSE repeat('*', CAST(length(s_name) - 4 AS INT)) ||
        |            substring(s_name, length(s_name) - 3, 4) END AS name_masked,
        |  regexp_replace(s_name, '[0-9]{1,}', '<num>', 'g') AS name_redacted,
        |  lower(trim(regexp_replace(s_name, '\s+', ' ', 'g'))) AS name_norm
        |FROM supplier
        |ORDER BY s_suppkey""".stripMargin,
    // duplicated-span removal: the oracle keys windows by their literal
    // 8-token text (positions are 1-based; Spark's 0-based positions cancel
    // out of the rebuilt output)
    "q_span_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') w FROM documents),
        |kg AS (
        |  SELECT doc_id, i AS pos, array_to_string(w[i:i+7], ' ') AS g
        |  FROM base, unnest(generate_series(1, len(w) - 7)) t(i)
        |  WHERE len(w) >= 8),
        |dup AS (SELECT g FROM kg GROUP BY g HAVING count(*) >= 2),
        |cov AS (
        |  SELECT doc_id, list_sort(list(DISTINCT p)) cl
        |  FROM (SELECT k.doc_id, s.p
        |        FROM kg k JOIN dup USING (g),
        |             unnest(generate_series(k.pos, k.pos + 7)) s(p))
        |  GROUP BY doc_id)
        |SELECT b.doc_id,
        |  coalesce(array_to_string(list_filter(list_transform(
        |    generate_series(1, len(b.w)),
        |    i -> CASE WHEN c.cl IS NOT NULL AND list_contains(c.cl, i)
        |         THEN NULL ELSE b.w[i] END),
        |    x -> x IS NOT NULL), ' '), '') AS text_kept,
        |  len(b.w) AS n_tokens,
        |  coalesce(len(c.cl), 0) AS n_dropped
        |FROM base b LEFT JOIN cov c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // corpus-trained bigram LM: counts from the full corpus, scored docs'
    // mean conditional probability in ratio+decimal domain (no libm)
    "q_quality_lm" ->
      s"""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') w
         |  FROM documents),
         |bg AS (SELECT doc_id, w[i] AS a, w[i+1] AS b
         |  FROM toks, unnest(generate_series(1, len(w)-1)) AS t(i)),
         |c2 AS (SELECT a, b, count(*) AS cnt FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT a, sum(cnt) AS ctx FROM c2 GROUP BY 1),
         |sc AS (SELECT g.doc_id,
         |    coalesce(CAST(c2.cnt AS DOUBLE) / CAST(c1.ctx AS DOUBLE), 0.0) AS p
         |  FROM bg g LEFT JOIN c2 ON c2.a = g.a AND c2.b = g.b
         |            LEFT JOIN c1 ON c1.a = g.a
         |  WHERE g.doc_id < 100)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  ${Tables.dsumSql("p")} / CAST(count(*) AS DOUBLE) AS lm_score
         |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    // hashed-bigram linear scorer: token poly-hash -> bigram bucket ->
    // integer pseudo-weight sum -> one double division + rational squash;
    // every step exactly rounded, so the doubles hash-match cross-engine
    "q_quality_model" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_transform(list_filter(string_split_regex(text, '\s+'), x -> x <> ''),
        |      t -> list_reduce(
        |        list_transform(string_split_regex(t, ''), c -> CAST(ord(c) AS BIGINT)),
        |        (h, c) -> (h*31 + c) % 2147483647)) AS th
        |  FROM documents WHERE doc_id < 200),
        |b AS (
        |  SELECT doc_id, th,
        |    list_transform(generate_series(1, len(th)-1),
        |      i -> (th[i]*131 + th[i+1]) % 2147483647 % 4096) AS bs
        |  FROM t),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN len(th) < 2 THEN NULL ELSE
        |      (CAST(list_reduce(list_transform(bs, x -> (x+1) * 506952114 % 2147483647),
        |                        (a, x) -> a + x) AS DOUBLE)
        |       / CAST(len(bs) AS DOUBLE)) / 2147483647.0 * 2.0 - 1.0 END AS margin
        |  FROM b)
        |SELECT doc_id,
        |  CASE WHEN margin IS NULL THEN 0.5
        |       ELSE 0.5 + 0.5 * margin / (1.0 + abs(margin)) END AS score
        |FROM m ORDER BY doc_id""".stripMargin,
    // decontamination: same 4-gram shingling as graft.functions.TextFunctions
    // .shingles (docs shorter than n tokens contribute their whole token
    // sequence as one shingle)
    "q_decontaminate" ->
      """WITH dw AS (
        |  SELECT doc_id, source, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
        |  FROM documents),
        |dng AS (
        |  SELECT doc_id, source, array_to_string(list_slice(ws, i, i+3), ' ') AS ng
        |  FROM dw, LATERAL (SELECT unnest(range(1, len(ws)-2)) AS i) t
        |  WHERE len(ws) >= 4),
        |short AS (
        |  SELECT doc_id, source, array_to_string(ws, ' ') AS ng
        |  FROM dw WHERE len(ws) BETWEEN 1 AND 3),
        |allng AS (SELECT * FROM dng UNION ALL SELECT * FROM short),
        |bng AS (SELECT DISTINCT ng FROM allng WHERE source = 'src0')
        |SELECT a.doc_id, count(DISTINCT a.ng) AS n_hits
        |FROM allng a JOIN bng USING (ng)
        |WHERE a.source <> 'src0'
        |GROUP BY a.doc_id
        |ORDER BY a.doc_id""".stripMargin)
}
