package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.cube.{CubeCatalog, TpchCube}

/** Differential tests for the star-join elimination + time-bucket pruning
  * rules: the same SQL must produce identical results with the cube
  * registered (rewritten onto the flat cube) and without (vanilla Spark
  * joins) — the reference's cTest protocol (`AbstractTest.scala:127-143`).
  */
class StarRewriteSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val init: Unit = {
    for (t <- Tables.starTables)
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    TpchCube.ensure(spark, sf)
  }

  private def scansCube(df: DataFrame): Boolean = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    classic.queryExecution.optimizedPlan.exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains("target/cubes"))
        case _ => false
      }
      case _ => false
    }
  }

  private def hasJoin(df: DataFrame): Boolean = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    classic.queryExecution.optimizedPlan.exists(_.isInstanceOf[Join])
  }

  /** Row fingerprints with doubles rounded to 2 decimals — summation order
    * differs between the cube scan and the join plan, so raw doubles drift
    * by ~1 ulp (the reference's cTest rounds to 1 decimal for the same
    * reason, `AbstractTest.scala:186-245`).
    */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map { r =>
      (0 until r.length).map { i =>
        r.get(i) match {
          case d: Double => f"$d%.2f"
          case v         => String.valueOf(v)
        }
      }.mkString("|")
    }.sorted.toSeq

  /** Run with the cube registered, then unregistered; assert identical
    * results; return (rewritten plan scanned cube, plan had join). With
    * `lattice = false` the cube is registered without its lattice nodes.
    */
  private def differential(sql: String, expectRewrite: Boolean,
                           lattice: Boolean = true): Unit = {
    init
    val cube = TpchCube.ensure(spark, sf)
    if (!lattice) CubeCatalog.register(cube.copy(rollups = Nil))
    val rewritten = spark.sql(sql)
    val rewrittenRows = rows(rewritten)
    if (expectRewrite) {
      assert(scansCube(rewritten), s"expected cube scan:\n$sql")
      assert(!hasJoin(rewritten), s"expected no join:\n$sql")
    } else {
      assert(!scansCube(rewritten), s"expected NO cube scan:\n$sql")
    }
    CubeCatalog.unregister(cube.info.name)
    try {
      val vanilla = spark.sql(sql)
      assert(!scansCube(vanilla))
      assert(rewrittenRows == rows(vanilla), s"result mismatch:\n$sql")
    } finally TpchCube.ensure(spark, sf)
  }

  test("q7-shape: two role-playing nations collapse to cube scan") {
    differential(
      """SELECT sn.n_name AS s_nation, cn.n_name AS c_nation,
        |       year(l_shipdate) AS l_year, sum(l_quantity) AS qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |WHERE (sn.n_name = 'NATION_20' AND cn.n_name = 'NATION_11')
        |   OR (sn.n_name = 'NATION_11' AND cn.n_name = 'NATION_20')
        |GROUP BY 1, 2, 3""".stripMargin, expectRewrite = true)
  }

  test("q3-shape: fact + two dims with dim filter") {
    // the star rewrite onto the flat cube alone: the order-key node serves
    // this derived-metric sum from exact DECIMAL sums, where the
    // unrewritten plain double sum rounds (a half-cent apart at %.2f)
    differential(
      """SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey""".stripMargin, expectRewrite = true, lattice = false)
  }

  test("q5-shape: shared-nation residual equality + region filter") {
    differential(
      """SELECT n.n_name AS nation, sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation n ON s_nationkey = n.n_nationkey
        |JOIN region ON n.n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n.n_name""".stripMargin, expectRewrite = true)
  }

  test("select-detail (no aggregate) also collapses") {
    differential(
      """SELECT l_orderkey, l_linenumber, p_name, s_name
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_brand = 'Brand#19' AND l_quantity > 40""".stripMargin,
      expectRewrite = true)
  }

  test("q8-shape: all eight tables incl. both region roles collapse") {
    differential(
      """SELECT year(o_orderdate) AS o_year,
        |       sum(CASE WHEN sn.n_name = 'NATION_20' THEN l_extendedprice ELSE 0.0 END) AS num,
        |       sum(l_extendedprice) AS den
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |JOIN region cr ON cn.n_regionkey = cr.r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN part ON l_partkey = p_partkey
        |WHERE cr.r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |GROUP BY 1""".stripMargin, expectRewrite = true)
  }

  test("query referencing a column not in the cube falls back") {
    differential(
      """SELECT n_regionkey, count(*) AS cnt
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY n_regionkey""".stripMargin, expectRewrite = false)
  }

  test("dim-only join (no fact table) falls back") {
    differential(
      """SELECT n_name, count(*) AS cnt
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin, expectRewrite = false)
  }

  test("outer join falls back") {
    differential(
      """SELECT c_mktsegment, count(*) AS cnt
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin, expectRewrite = false)
  }

  test("bare fact-table grouped aggregate routes to the cube when a rollup may serve") {
    // relation-IS-the-index, gated by a benefit signal: without a time
    // filter the route only pays when a lattice node can serve the
    // aggregate. Grouping by a rollup dim over rollup metrics routes.
    graft.cube.RollupCube.ensure(spark, sf)
    differential(
      """SELECT l_returnflag, count(*) AS cnt, sum(l_quantity) AS s_qty
        |FROM lineitem
        |GROUP BY l_returnflag""".stripMargin, expectRewrite = true)
    // a pure-metric sweep (grouping outside every node's dims) keeps the
    // raw scan: the cube extract's many time-bucket files are strictly
    // worse for a full scan with no rollup serve to recoup it
    differential(
      """SELECT l_linenumber, count(*) AS cnt, sum(l_orderkey % 97) AS s_mod
        |FROM lineitem
        |GROUP BY l_linenumber""".stripMargin, expectRewrite = false)
    // non-aggregate select-detail WITHOUT a time predicate keeps the raw
    // plan (no benefit signal; protects fact leaves in refused join trees)
    val detail = spark.sql("SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 49")
    assert(!scansCube(detail), "unfiltered select-detail must stay on the raw table")
    // an EXACT percentile over an un-sketched column can't be rollup-served
    // (function-level gate), but it IS a TypedImperativeAggregate and the
    // raw extract is a single file here — the compute-bound under-split
    // signal routes it to the cube's parallel bucket layout
    differential(
      """SELECT l_returnflag, percentile(l_quantity, 0.5) AS p50
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
      expectRewrite = true)
    // the same shape with only codegen'd aggregates over un-stored columns
    // has neither signal -> raw (the narrow file beats the wide extract)
    differential(
      """SELECT l_linenumber, sum(l_orderkey % 97) AS s_mod
        |FROM lineitem GROUP BY l_linenumber""".stripMargin,
      expectRewrite = false)
  }

  test("bare fact-table interval aggregate routes to the cube and partition-prunes") {
    differential(
      """SELECT year(l_shipdate) AS y, count(*) AS cnt
        |FROM lineitem
        |WHERE l_shipdate >= timestamp'1996-01-01' AND l_shipdate < timestamp'1996-07-01'
        |GROUP BY 1""".stripMargin, expectRewrite = true)
    // and the routed plan carries time-bucket predicates for pruning
    // (projection-only shape keeps AQE out of the physical plan)
    val df = spark.sql(
      """SELECT l_quantity FROM lineitem
        |WHERE l_shipdate >= timestamp'1996-01-01' AND l_shipdate < timestamp'1996-07-01'""".stripMargin)
    assert(scansCube(df), "interval projection should also route to the cube")
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val scans = classic.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.relation.location.rootPaths.head.toString.contains("target/cubes")))
    assert(scans.head.relation.location
      .listFiles(scans.head.partitionFilters, Nil).map(_.values).size <= 6)
  }

  test("grouping sets / cube over a star join collapse to one cube scan") {
    differential(
      """SELECT l_returnflag, c_mktsegment, count(*) AS cnt,
        |       sum(l_quantity) AS sum_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE(l_returnflag, c_mktsegment)""".stripMargin,
      expectRewrite = true)
  }

  test("cached dimension tables still collapse (InMemoryRelation see-through)") {
    init
    TpchCube.ensure(spark, sf)
    spark.catalog.cacheTable("nation")
    spark.catalog.cacheTable("customer")
    try {
      differential(
        """SELECT n_name AS nation, sum(l_extendedprice) AS revenue
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE n_name IN ('NATION_3', 'NATION_7')
          |GROUP BY n_name""".stripMargin, expectRewrite = true)
    } finally {
      spark.catalog.uncacheTable("nation")
      spark.catalog.uncacheTable("customer")
    }
  }

  test("db-qualified star tables still collapse (multi-DB)") {
    // the reference serves datasources whose base tables live in a
    // non-default database (MultiDBTest.scala); our matching is path-based,
    // so catalog tables registered under another database over the SAME
    // parquet paths must collapse exactly like the temp views
    init
    TpchCube.ensure(spark, sf)
    spark.sql("CREATE DATABASE IF NOT EXISTS graftdb")
    for (t <- Seq("lineitem", "orders", "customer"))
      spark.sql(s"CREATE TABLE IF NOT EXISTS graftdb.$t USING parquet " +
        s"LOCATION '${Tables.path(sf, t)}'")
    try {
      val qualified = spark.sql(
        """SELECT c_mktsegment, sum(l_quantity) AS qty
          |FROM graftdb.lineitem
          |JOIN graftdb.orders ON l_orderkey = o_orderkey
          |JOIN graftdb.customer ON o_custkey = c_custkey
          |GROUP BY 1""".stripMargin)
      assert(scansCube(qualified), "qualified-table star join must collapse")
      assert(!hasJoin(qualified))
      val viaViews = rows(spark.sql(
        """SELECT c_mktsegment, sum(l_quantity) AS qty
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |GROUP BY 1""".stripMargin))
      assert(rows(qualified) == viaViews, "qualified/unqualified results diverged")
    } finally {
      for (t <- Seq("lineitem", "orders", "customer"))
        spark.sql(s"DROP TABLE IF EXISTS graftdb.$t")
      spark.sql("DROP DATABASE IF EXISTS graftdb")
    }
  }

  test("cardinality gate refuses rewrites whose grouped result explodes") {
    init
    val cube = TpchCube.ensure(spark, sf)
    val sql =
      """SELECT l_orderkey, o_orderdate, sum(l_quantity) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_orderkey, o_orderdate""".stripMargin
    // normal threshold (1M): the functional dependency l_orderkey ->
    // o_orderdate collapses the estimate to #orders, rewrite allowed
    assert(scansCube(spark.sql(sql)), "expected rewrite under default threshold")
    // tiny threshold: the same query must fall back to the join plan
    CubeCatalog.register(
      cube.copy(info = cube.info.copy(maxResultCardinality = 10)))
    try assert(!scansCube(spark.sql(sql)), "expected refusal at threshold 10")
    finally CubeCatalog.register(cube)
  }

  test("describeCube exposes column roles, NDV stats and rollup merges") {
    init
    val cube = TpchCube.ensure(spark, sf)
    graft.cube.RollupCube.ensure(spark, sf)
    val rows = Graft.describeCube(spark, cube.info.name).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getString(3))).toMap
    assert(rows("l_shipdate")._1 == "Time")
    assert(rows("l_quantity")._1 == "Metric")
    assert(rows("c_mktsegment")._2 > 0, "dimension NDV stats should be loaded")
    assert(rows("c_mktsegment")._3 == "group")
    assert(rows("l_quantity")._3 == "sum:sum_qty")
    intercept[IllegalArgumentException] { Graft.describeCube(spark, "nope") }
  }

  test("explainRewrite reports cube scans and join elimination") {
    init
    TpchCube.ensure(spark, sf)
    val report = Graft.explainRewrite(spark,
      """SELECT c_mktsegment, sum(l_quantity) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)
    assert(report.contains("cube scans: tpch_flat"), report.linesIterator.take(2).mkString("\n"))
    assert(report.contains("remaining joins: 0"))
    val vanilla = Graft.explainRewrite(spark,
      "SELECT count(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey")
    assert(vanilla.contains("NONE"))
  }

  test("time filter prunes cube partitions and stays correct") {
    init
    val cube = TpchCube.ensure(spark, sf)
    val cubeDf = spark.read.parquet(cube.cubePath)
    val filtered = cubeDf
      .filter("l_shipdate >= timestamp'1996-01-01' AND l_shipdate < timestamp'1996-04-01'")
    val n = filtered.count()
    // pruning must not change results vs an unpruned evaluation
    val raw = Tables.t(spark, sf, "lineitem")
      .filter("l_shipdate >= timestamp'1996-01-01' AND l_shipdate < timestamp'1996-04-01'")
      .count()
    assert(n == raw)
    // physical scan must read only the 3 matching buckets
    val classic = filtered.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val scan = classic.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.isDefined)
    assert(scan.get.relation.location.listFiles(scan.get.partitionFilters, Nil)
      .map(_.values).size <= 3, "expected at most 3 partition buckets scanned")
  }
}
