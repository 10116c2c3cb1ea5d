package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube.RollupCube

/** Re-aggregation over the pre-aggregated rollup cube must agree with
  * direct aggregation over raw rows — the reference's core rollup-index
  * correctness property (SURVEY.md §7.4).
  */
class RollupSpec extends AnyFunSuite {
  import TestSpark._

  test("sum/count/avg re-aggregated from the rollup equal direct aggregation, exactly") {
    val got = RollupCube.reaggregate(spark, sf,
        Seq("c_mktsegment", "l_returnflag"),
        Seq(RollupCube.merge.cnt, RollupCube.merge.sumOf("l_quantity"),
          RollupCube.merge.avgOf("l_extendedprice")))
      .orderBy("c_mktsegment", "l_returnflag")
      .collect()

    val want = Tables.flat(spark, sf)
      .groupBy("c_mktsegment", "l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast("decimal(28,6)")).cast("double").as("sum_qty"),
        (sum(col("l_extendedprice").cast("decimal(28,6)")).cast("double") / count(lit(1)))
          .as("avg_price"))
      .orderBy("c_mktsegment", "l_returnflag")
      .collect()

    assert(got.length == want.length && got.nonEmpty)
    for ((g, w) <- got.zip(want)) {
      assert(g.getString(0) == w.getString(0) && g.getString(1) == w.getString(1))
      assert(g.getLong(2) == w.getLong(2), s"cnt mismatch at ${g.getString(0)}")
      assert(g.getDouble(3) == w.getDouble(3), s"sum mismatch at ${g.getString(0)}")
      assert(g.getDouble(4) == w.getDouble(4), s"avg mismatch at ${g.getString(0)}")
    }
  }

  test("subset-of-dims grouping also re-aggregates exactly") {
    val got = RollupCube.reaggregate(spark, sf, Seq("s_nation"),
        Seq(RollupCube.merge.cnt, RollupCube.merge.sumOf("l_extendedprice")))
      .orderBy("s_nation").collect()
    val want = Tables.flat(spark, sf).groupBy("s_nation")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_extendedprice").cast("decimal(28,6)")).cast("double").as("sum_price"))
      .orderBy("s_nation").collect()
    assert(got.length == want.length && got.nonEmpty)
    for ((g, w) <- got.zip(want)) {
      assert(g.getLong(1) == w.getLong(1) && g.getDouble(2) == w.getDouble(2))
    }
  }

  test("merged HLL sketches track exact distinct counts within 5%") {
    val got = RollupCube.reaggregate(spark, sf, Seq("c_mktsegment"),
        Seq(RollupCube.merge.customers))
      .orderBy("c_mktsegment").collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val exact = Tables.flat(spark, sf).groupBy("c_mktsegment")
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == exact.keySet)
    for ((seg, est) <- got) {
      val ex = exact(seg).toDouble
      assert(math.abs(est - ex) / ex < 0.05, s"$seg: est $est vs exact $ex")
    }
  }

  test("avg from the rollup fails loudly for a metric with NULL values") {
    val dir = "/tmp/graft_rollup_null_metric"
    def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); () }
    rm(new java.io.File(dir))
    for (t <- Tables.starTables) {
      val df = spark.read.parquet(Tables.path(sf, t))
      (if (t != "lineitem") df
       else df.withColumn("l_quantity", when(col("l_orderkey") % 5 === 0,
         lit(null).cast(df.schema("l_quantity").dataType)).otherwise(col("l_quantity"))))
        .coalesce(1).write.mode("overwrite").parquet(Tables.path(dir, t))
    }
    Tables.invalidateCache()
    try {
      val err = intercept[IllegalStateException](RollupCube.reaggregate(spark, dir,
        Seq("c_mktsegment"), Seq(RollupCube.merge.avgOf("l_quantity"))))
      assert(err.getMessage.contains("l_quantity"), err.getMessage)
      // a NULL-free metric of the same node still answers, exactly
      val got = RollupCube.reaggregate(spark, dir, Seq("c_mktsegment"),
          Seq(RollupCube.merge.avgOf("l_extendedprice")))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val want = Graft.withoutRewrites(spark)(Tables.flat(spark, dir).groupBy("c_mktsegment")
        .agg(sum(col("l_extendedprice").cast("decimal(28,6)")).cast("double") / count(lit(1)))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
      assert(got.nonEmpty && got == want)
    } finally {
      graft.cube.CubeCatalog.unregister(s"tpch_flat_${new java.io.File(dir).getName}")
      (graft.cube.TpchCube.cubePath(dir) +: RollupCube.metas(dir).map(_.path))
        .foreach(graft.cube.CubeGenerations.wipeAll)
      Tables.invalidateCache()
    }
  }

  test("rollup refuses groupings outside its dimension set") {
    intercept[IllegalArgumentException] {
      RollupCube.reaggregate(spark, sf, Seq("l_partkey"), Seq(RollupCube.merge.cnt))
    }
  }

  test("competing lattice nodes are priced by measured stored rows, not order") {
    for (t <- Tables.starTables)
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    graft.cube.RollupCube.ensure(spark, sf)
    val cube = graft.cube.CubeCatalog.all.find(_.rollups.nonEmpty).get
    // servable by at least the coarse {c_mktsegment,l_returnflag}, slice
    // {c_mktsegment,s_nation}, q3 and fine nodes — the router must take
    // the measured-smallest (coarse), wherever it sits in the list
    val sql =
      """SELECT c_mktsegment, count(*) AS cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin
    def servedPath(): String = {
      val scans = spark.sql(sql)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.optimizedPlan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.map(p =>
                  graft.cube.CubeCatalog.normalizePath(p.toString))
              case _ => Nil
            }
        }.flatten
      assert(scans.size == 1, s"expected one rollup scan, got $scans")
      scans.head
    }
    val chosen = servedPath()
    assert(chosen == graft.cube.CubeCatalog.normalizePath(
        graft.cube.RollupCube.coarsePath(sf)),
      s"expected the measured-smallest (coarse) node, got $chosen")
    // flip the registration order (fine/near-grain nodes first): a
    // positional walk would now stop at a bigger node; the priced walk
    // must still land on the same measured-smallest one
    try {
      graft.cube.CubeCatalog.register(cube.copy(rollups = cube.rollups.reverse))
      assert(servedPath() == chosen,
        "node choice must follow measured stored rows, not registration order")
    } finally graft.cube.CubeCatalog.register(cube)
  }

  test("route pricing is POST-pruning: a big partitioned node beats a small unpartitioned one under a narrow slice") {
    // The reference prices competing routes on the query's actual slice
    // (interval ratio × index stats, DruidQueryCostModel.scala:660-689),
    // not whole-datasource size. Lock the same here: a node that is
    // smaller in total but unpartitioned must LOSE to a larger
    // bucket-partitioned node once a narrow time slice prunes the latter
    // below the former — whole-dir pricing (and registration order, which
    // lists the small node first) would both pick wrong.
    for (t <- Tables.starTables)
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    graft.cube.RollupCube.ensure(spark, sf)
    val cube = graft.cube.CubeCatalog.all.find(_.rollups.nonEmpty).get
    val finePath = graft.cube.RollupCube.rollupPath(sf)
    val fine = cube.rollups.find(_.path == finePath).get
    // small unpartitioned competitor: the coarse cells rewritten as one
    // flat dir — g_tbucket demoted to a data column, so a time slice
    // cannot prune it at all
    val unPath = s"/root/repo/target/cubes/test_unpart_${new java.io.File(sf).getName}_${Tables.contentTag(sf)}"
    if (!new java.io.File(unPath, "_SUCCESS").exists())
      spark.read.parquet(graft.cube.RollupCube.coarsePath(sf))
        .repartition(1).write.mode("overwrite").parquet(unPath)
    val unMeta = cube.rollups.find(_.path == graft.cube.RollupCube.coarsePath(sf))
      .get.copy(path = unPath)
    val sql =
      """SELECT c_mktsegment, count(*) AS cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_shipdate >= DATE '1995-03-01' AND l_shipdate < DATE '1995-04-01'
        |GROUP BY c_mktsegment""".stripMargin
    def servedPaths(): Seq[String] = spark.sql(sql)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(p =>
                graft.cube.CubeCatalog.normalizePath(p.toString))
            case _ => Nil
          }
      }.flatten
    try {
      // the small node FIRST: a positional walk and whole-dir pricing
      // would both stop at it
      graft.cube.CubeCatalog.register(cube.copy(rollups = Seq(unMeta, fine)))
      // precondition making the case adversarial: whole-dir ordering is
      // inverted (the unpartitioned node IS the smaller artifact)
      val sb = org.apache.spark.sql.graft.ScanBytes
      assert(sb.dirCost(spark, unPath)._2 < sb.dirCost(spark, finePath)._2,
        "setup: unpartitioned node must be smaller whole-dir")
      val chosen = servedPaths()
      assert(chosen == Seq(graft.cube.CubeCatalog.normalizePath(finePath)),
        s"expected the partitioned fine node after pruning, got $chosen")
      // the recorded pricing table shows WHY: the fine node's pruned
      // slice measured below the unpartitioned node's full listing
      val pricing = graft.plans.RollupRouting.latestPricing.get
      val byPath = pricing.nodes.map(n => n.path -> n).toMap
      assert(pricing.chosenPath.contains(finePath), pricing.toString)
      assert(byPath(finePath).rows >= 0 &&
        byPath(finePath).rows < byPath(unPath).rows, pricing.toString)
      // and the result is still exactly the raw aggregate
      val got = spark.sql(sql).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      val want = Graft.withoutRewrites(spark)(spark.sql(sql).collect())
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got == want && got.nonEmpty)
    } finally graft.cube.CubeCatalog.register(cube)
  }

  test("route pricing is O(footerCap): more files than the cap still price (bytes exact, rows sampled) and route correctly") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    for (t <- Tables.starTables)
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    graft.cube.RollupCube.ensure(spark, sf)
    val sb = org.apache.spark.sql.graft.ScanBytes
    // a fresh 12-file copy of the coarse cells no other test footer-reads
    val manyPath = s"/root/repo/target/cubes/test_manyfiles_${new java.io.File(sf).getName}_${Tables.contentTag(sf)}"
    if (!new java.io.File(manyPath, "_SUCCESS").exists())
      spark.read.parquet(graft.cube.RollupCube.coarsePath(sf))
        .repartition(12).write.mode("overwrite").parquet(manyPath)
    val rel = spark.read.parquet(manyPath)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation.asInstanceOf[HadoopFsRelation]
      }.head
    sb.invalidateDirCosts()
    TestSpark.quiesceFooterReads()
    val before = sb.footerReads.get()
    val (files, rows, bytes) =
      sb.prunedCost(spark, rel, Nil, footerCap = 4).get
    val opens = sb.footerReads.get() - before
    assert(files == 12, s"expected the 12-file listing, got $files")
    assert(opens <= 4, s"plan-time footer opens must be <= cap, got $opens")
    // bytes stay EXACT past the cap (the listing's getLen sum is free)
    val exactBytes = new java.io.File(manyPath).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(bytes == exactBytes, s"bytes $bytes vs on-disk $exactBytes")
    // rows are sampled rows-per-byte over <=cap footers — tight here
    // because repartition yields near-uniform files
    val trueRows = spark.read.parquet(manyPath).count()
    assert(math.abs(rows - trueRows) <= math.max(1L, trueRows / 5),
      s"sampled estimate $rows vs true $trueRows")

    // and the router still lands on the right node when a candidate's
    // listing exceeds the cap: the 12-file unpartitioned copy (priced via
    // sampling) must LOSE to the bucket-partitioned fine node under a
    // narrow slice, exactly as with exhaustive footer pricing
    val cube = graft.cube.CubeCatalog.all.find(_.rollups.nonEmpty).get
    val finePath = graft.cube.RollupCube.rollupPath(sf)
    val fine = cube.rollups.find(_.path == finePath).get
    val manyMeta = cube.rollups
      .find(_.path == graft.cube.RollupCube.coarsePath(sf)).get
      .copy(path = manyPath)
    val sql =
      """SELECT c_mktsegment, count(*) AS cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_shipdate >= DATE '1995-03-01' AND l_shipdate < DATE '1995-04-01'
        |GROUP BY c_mktsegment""".stripMargin
    try {
      spark.conf.set("spark.graft.costRouting.footerCap", "4")
      graft.cube.CubeCatalog.register(cube.copy(rollups = Seq(manyMeta, fine)))
      sb.invalidateDirCosts()
      TestSpark.quiesceFooterReads()
      val capBefore = sb.footerReads.get()
      spark.sql(sql).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.optimizedPlan
      val pricing = graft.plans.RollupRouting.latestPricing.get
      assert(pricing.chosenPath.contains(finePath), pricing.toString)
      val many = pricing.nodes.find(_.path == manyPath).get
      assert(many.rows >= 0 && many.verdict != "unmeasured",
        s"the >cap node must still be PRICED, not unmeasured: $pricing")
      // the whole decision (fact + 2 candidates) stayed O(cap) in opens
      val totalOpens = sb.footerReads.get() - capBefore
      assert(totalOpens <= 3 * 4,
        s"routing decision opened $totalOpens footers; cap is 4 per node")
    } finally {
      spark.conf.set("spark.graft.costRouting.footerCap", "64")
      graft.cube.CubeCatalog.register(cube)
    }
  }

  test("choose: measured refusals are never overridden by an unmeasured fallback") {
    import graft.plans.RollupRouting.choose
    // every measurement said the fact wins; an unmeasured candidate must
    // NOT be routed to on the strength of a listing hiccup
    assert(choose(Seq(("big", 0, (10L, 1000L, 1L))), Seq(("mystery", 1)),
      Some(100L)).isEmpty)
    // nothing measured at all -> documented positional fallback
    assert(choose(Seq.empty[(String, Int, (Long, Long, Long))],
      Seq(("b", 1), ("a", 0)), Some(100L)).contains("a"))
    // a measured survivor always beats unmeasured, regardless of order
    assert(choose(Seq(("ok", 5, (1L, 50L, 7L))), Seq(("m", 0)),
      Some(100L)).contains("ok"))
    // cheapest by (rows, bytes, registration order)
    assert(choose(Seq(("x", 1, (1L, 10L, 5L)), ("y", 0, (1L, 10L, 5L))),
      Nil, None).contains("y"))
  }

  test("candidate pricing sees through an interposed Project to the scan's filters") {
    graft.cube.RollupCube.ensure(spark, sf)
    val df = spark.read.parquet(graft.cube.RollupCube.coarsePath(sf))
    // Filter over Project over relation — the shape that silently priced
    // the WHOLE node before PhysicalOperation-based collection
    val plan = df.select(df.columns.map(col).toIndexedSeq: _*)
      .filter(col("c_mktsegment") === "MACHINERY")
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed
    val got = graft.plans.RollupRouting.scanWithFilters(plan)
    assert(got.isDefined, s"expected a scan under:\n$plan")
    assert(got.get._2.nonEmpty,
      s"conjuncts must survive the interposed Project:\n$plan")
  }

  test("TopN from heavy-hitter sketches: lossless rewrite, no fact scan") {
    for (t <- Tables.starTables)
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    graft.cube.RollupCube.ensure(spark, sf)
    val sql =
      """SELECT l_suppkey, count(*) AS cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'MACHINERY'
        |GROUP BY l_suppkey
        |ORDER BY cnt DESC, l_suppkey
        |LIMIT 10""".stripMargin
    val routed = spark.sql(sql)
    val plan = routed.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan
    val hasExplode = plan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Generate => true
      case _ => false
    }
    assert(hasExplode, s"expected the sketch-explode plan, got:\n$plan")
    val scansFacts = plan.exists {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            !fs.location.rootPaths.exists(_.toString.contains("_rollup"))
          case _ => true
        }
      case _ => false
    }
    assert(!scansFacts, "TopN must read only rollup cells, never the facts")
    val got = routed.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = Graft.withoutRewrites(spark)(spark.sql(sql).collect())
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, s"sketch TopN diverged:\n got  $got\n want $want")
  }

  test("weighted TopN (sum metric) from sketches is bit-equal to the decimal sum") {
    for (t <- Tables.starTables)
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    graft.cube.RollupCube.ensure(spark, sf)
    val sql =
      """SELECT l_suppkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'MACHINERY'
        |GROUP BY l_suppkey
        |ORDER BY volume DESC, l_suppkey
        |LIMIT 7""".stripMargin
    val routed = spark.sql(sql)
    val plan = routed.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan
    assert(plan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Generate => true
      case _ => false
    }, s"expected the weighted-sketch plan, got:\n$plan")
    val got = routed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Graft.withoutRewrites(spark)(spark.sql(sql).collect())
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, s"weighted TopN diverged:\n got  $got\n want $want")
  }

  test("grouped TopN: per-segment supplier ranks from per-group sketch merges") {
    for (t <- Tables.starTables)
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    graft.cube.RollupCube.ensure(spark, sf)
    val sql =
      """SELECT c_mktsegment, l_suppkey, cnt FROM (
        |  SELECT c_mktsegment, l_suppkey, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY count(*) DESC, l_suppkey) AS rk
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment, l_suppkey)
        |WHERE rk <= 3
        |ORDER BY c_mktsegment, cnt DESC, l_suppkey""".stripMargin
    val routed = spark.sql(sql)
    val plan = routed.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan
    assert(plan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Generate => true
      case _ => false
    }, s"expected the per-group sketch plan, got:\n$plan")
    val got = routed.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Graft.withoutRewrites(spark)(spark.sql(sql).collect())
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"grouped TopN diverged:\n got  $got\n want $want")
  }

  test("automatic chain: star join -> flat cube -> rollup, results agree with vanilla") {
    import graft.cube.{CubeCatalog, TpchCube}
    for (t <- Tables.starTables)
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    graft.cube.RollupCube.ensure(spark, sf)
    val sql =
      """SELECT c_mktsegment, l_returnflag, count(*) AS cnt,
        |  sum(l_quantity) AS sum_qty, avg(l_extendedprice) AS avg_price,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin
    val routed = spark.sql(sql)
    val scansRollup = routed.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan.exists {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains("_rollup"))
            case _ => false
          }
        case _ => false
      }
    assert(scansRollup, "expected the aggregate to be served from the rollup")

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (0 until r.length).map(i => r.get(i) match {
        case d: Double => f"$d%.2f"
        case v => String.valueOf(v)
      }).mkString("|")
    }.sorted.toSeq
    val routedRows = rows(routed)
    val cube = TpchCube.ensure(spark, sf)
    CubeCatalog.unregister(cube.info.name)
    try {
      val vanilla = spark.sql(sql)
      assert(rows(vanilla) == routedRows, "rollup-served results diverge")
      assert(routedRows.nonEmpty)
    } finally graft.cube.RollupCube.ensure(spark, sf)
  }

  test("filtered aggregations over dims merge from stored sums, bit-equal") {
    // the reference's FilteredAggregationSpec (DruidQuerySpec.scala:362-377)
    // in both spellings — sum(CASE WHEN <dim pred> ...) and FILTER (WHERE
    // <dim pred>) — a dim predicate is constant per rollup cell, so whole
    // cells conditionally merge. Metric predicates (q_filtered_agg's shape)
    // must keep refusing the route; dim predicates must serve, exactly.
    for (t <- Tables.starTables)
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    graft.cube.RollupCube.ensure(spark, sf)
    val sql =
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(CASE WHEN sn.n_name = 'NATION_3'
        |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END
        |    AS DECIMAL(28,6))) AS DOUBLE) AS n3_rev,
        |  count(*) FILTER (WHERE l_returnflag = 'R') AS n_returned,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6)))
        |    FILTER (WHERE sn.n_name = 'NATION_3') AS DOUBLE) AS n3_qty,
        |  min(l_quantity) FILTER (WHERE l_returnflag = 'R') AS min_r_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |GROUP BY 1
        |ORDER BY 1""".stripMargin
    val routed = spark.sql(sql)
    val plan = routed.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan
    assert(plan.exists {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains("_rollup"))
          case _ => false
        }
      case _ => false
    }, s"expected the filtered aggregate to serve from the rollup, got:\n$plan")
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
    val got = routed.collect().map(key).toSeq
    val want = Graft.withoutRewrites(spark)(spark.sql(sql).collect()).map(key).toSeq
    assert(got == want, s"filtered-agg merge diverged:\n got  $got\n want $want")
    assert(got.nonEmpty)
  }

  test("count(DISTINCT) serves from the KMV sketch when NDV stats prove exactness") {
    import graft.cube.{CubeCatalog, TpchCube}
    for (t <- Tables.starTables)
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    graft.cube.RollupCube.ensure(spark, sf)
    // the q02 "Basic Aggregation" shape: post-agg arithmetic + distinct
    val sql =
      """SELECT c_mktsegment, l_returnflag, count(*) AS cnt,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price,
        |  max(l_quantity) AS max_qty,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(DISTINCT o_custkey) AS n_cust
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin
    def scansRollup(df: org.apache.spark.sql.DataFrame) =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.optimizedPlan.exists {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.exists(_.toString.contains("_rollup"))
              case _ => false
            }
          case _ => false
        }
    val routed = spark.sql(sql)
    assert(scansRollup(routed),
      "count-distinct aggregate should be served from the rollup sketch")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val routedRows = rows(routed)
    val cube = TpchCube.ensure(spark, sf)
    CubeCatalog.unregister(cube.info.name)
    try {
      val vanilla = spark.sql(sql)
      // EXACT equality, doubles included: the decimal merge and the sketch
      // union must be bit-identical to direct aggregation, not approximate
      assert(rows(vanilla) == routedRows, "sketch-served distinct diverges")
      assert(routedRows.nonEmpty)
    } finally graft.cube.RollupCube.ensure(spark, sf)

    // gate: a column with no sketch must NOT route
    val noSketch = spark.sql(
      """SELECT c_mktsegment, count(DISTINCT l_suppkey) AS n_supp
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin)
    assert(!scansRollup(noSketch), "unsketchable distinct must stay on the cube")
  }

  test("dimension min/max/count-distinct serve from rollup rows without sketches") {
    for (t <- Tables.starTables)
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    graft.cube.RollupCube.ensure(spark, sf)
    val sql =
      """SELECT c_mktsegment, min(l_returnflag) AS min_rf, max(l_returnflag) AS max_rf,
        |  count(DISTINCT l_returnflag) AS n_rf
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin
    def scansRollup(df: org.apache.spark.sql.DataFrame) =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.optimizedPlan.exists {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.exists(_.toString.contains("_rollup"))
              case _ => false
            }
          case _ => false
        }
    val routed = spark.sql(sql)
    assert(scansRollup(routed), "dim aggregates should serve from rollup rows")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val routedRows = rows(routed)
    val cube = graft.cube.TpchCube.ensure(spark, sf)
    graft.cube.CubeCatalog.unregister(cube.info.name)
    try {
      assert(rows(spark.sql(sql)) == routedRows && routedRows.nonEmpty)
    } finally graft.cube.RollupCube.ensure(spark, sf)
  }

  test("approx_count_distinct serves from the stored HLL sketches behind its flag") {
    for (t <- Tables.starTables)
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    graft.cube.RollupCube.ensure(spark, sf)
    val sql =
      """SELECT c_mktsegment, approx_count_distinct(o_custkey) AS n_approx
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin
    def scansRollup(df: org.apache.spark.sql.DataFrame) =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.optimizedPlan.exists {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.exists(_.toString.contains("_rollup"))
              case _ => false
            }
          case _ => false
        }
    val routed = spark.sql(sql)
    assert(scansRollup(routed),
      "approx distinct should be served from the stored HLL sketches")
    // approximate-for-approximate: validate against the EXACT count, the
    // only cross-estimator invariant (HLL++ vs DataSketches HLL drift is
    // expected — BenchMarkDetails.org:893-908 shows the same in Druid)
    val exact = spark.sql(
      """SELECT c_mktsegment, count(DISTINCT o_custkey) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = routed.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == exact.keySet && got.nonEmpty)
    for ((seg, n) <- exact)
      assert(math.abs(got(seg) - n) <= math.max(2L, (n * 0.05).toLong),
        s"estimate ${got(seg)} too far from exact $n for $seg")
    // flag off -> the route must not fire
    spark.conf.set("spark.graft.approxDistinctFromSketch.enabled", "false")
    try assert(!scansRollup(spark.sql(sql)), "flag must gate the HLL serve")
    finally spark.conf.unset("spark.graft.approxDistinctFromSketch.enabled")
  }

  test("time-granularity aggregates serve from the rollup bucket column") {
    import graft.cube.{CubeCatalog, TpchCube}
    for (t <- Tables.starTables)
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    graft.cube.RollupCube.ensure(spark, sf)
    def scansRollup(df: org.apache.spark.sql.DataFrame) =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.optimizedPlan.exists {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.exists(_.toString.contains("_rollup"))
              case _ => false
            }
          case _ => false
        }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq

    // month truncation + aligned interval + extraction functions, with a
    // dimension grouping and decimal sum in the mix
    val sql =
      """SELECT date_trunc('month', l_shipdate) AS mon,
        |  CAST(year(l_shipdate) AS INTEGER) AS y,
        |  CAST(quarter(l_shipdate) AS INTEGER) AS q,
        |  CAST(month(l_shipdate) AS INTEGER) AS m,
        |  l_returnflag, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= timestamp'1996-01-01' AND l_shipdate < timestamp'1996-07-01'
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin
    val routed = spark.sql(sql)
    assert(scansRollup(routed), "granularity aggregate should serve from the rollup")
    val routedRows = rows(routed)
    val cube = TpchCube.ensure(spark, sf)
    CubeCatalog.unregister(cube.info.name)
    try {
      assert(rows(spark.sql(sql)) == routedRows, "granularity serving diverges")
      assert(routedRows.nonEmpty)
    } finally graft.cube.RollupCube.ensure(spark, sf)

    // an interval NOT on a month boundary cannot use the month-grain nodes,
    // but the DAY-grain lattice node serves it exactly (the time column is
    // measured day-quantized) — differential-checked
    val unalignedSql =
      """SELECT date_trunc('month', l_shipdate) AS mon, count(*) AS cnt
        |FROM lineitem
        |WHERE l_shipdate >= timestamp'1996-01-15'
        |GROUP BY 1""".stripMargin
    val unaligned = spark.sql(unalignedSql)
    assert(scansRollup(unaligned), "day-grain node should serve sub-month intervals")
    val unalignedRows = rows(unaligned)
    CubeCatalog.unregister(cube.info.name)
    try assert(rows(spark.sql(unalignedSql)) == unalignedRows,
      "day-grain sub-month serving diverges")
    finally graft.cube.RollupCube.ensure(spark, sf)

    // week granularity is not month-aligned: only the DAY-grain node can
    // serve it (trunc-to-Monday on the reconstructed date) — differential
    val weekSql =
      """SELECT date_trunc('week', l_shipdate) AS wk, l_returnflag,
        |  count(*) AS cnt
        |FROM lineitem
        |WHERE l_shipdate >= timestamp'1996-01-01'
        |GROUP BY 1, 2""".stripMargin
    val weekly = spark.sql(weekSql)
    assert(scansRollup(weekly), "week granularity should serve from the day-grain node")
    val weeklyRows = rows(weekly)
    CubeCatalog.unregister(cube.info.name)
    try assert(rows(spark.sql(weekSql)) == weeklyRows, "week serving diverges")
    finally graft.cube.RollupCube.ensure(spark, sf)

    // hour granularity is finer than any lattice node, but the time column
    // is MEASURED day-quantized (all midnights) — hour-trunc is an identity
    // there, so the day node serves it exactly (Druid queryGranularity=DAY
    // answering a finer query granularity) — differential-checked
    val hourSql =
      """SELECT date_trunc('hour', l_shipdate) AS h, count(*) AS cnt
        |FROM lineitem GROUP BY 1""".stripMargin
    val hourly = spark.sql(hourSql)
    assert(scansRollup(hourly),
      "hour granularity over day-quantized data should serve from the day node")
    val hourlyRows = rows(hourly)
    CubeCatalog.unregister(cube.info.name)
    try assert(rows(spark.sql(hourSql)) == hourlyRows, "hour serving diverges")
    finally graft.cube.RollupCube.ensure(spark, sf)
  }

  test("Q1 shape serves from the day-grain node with derived-metric sums") {
    import graft.cube.{CubeCatalog, TpchCube}
    for (t <- Tables.starTables)
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    graft.cube.RollupCube.ensure(spark, sf)
    // full TPC-H Q1: unaligned (day-granular) interval, derived-metric sums
    // (disc_price, charge), avg decompositions — all from pre-aggregates
    val sql =
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= timestamp'1996-09-02'
        |GROUP BY 1, 2""".stripMargin
    def scansNode(df: org.apache.spark.sql.DataFrame, marker: String) =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.optimizedPlan.exists {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.relation match {
              case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                fs.location.rootPaths.exists(_.toString.contains(marker))
              case _ => false
            }
          case _ => false
        }
    val routed = spark.sql(sql)
    assert(scansNode(routed, "_rollup_rf_ls"),
      "Q1 shape should serve from the day-grain lattice node")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val routedRows = rows(routed)
    val cube = TpchCube.ensure(spark, sf)
    CubeCatalog.unregister(cube.info.name)
    try {
      // bit-exact, doubles included: decimal partial sums re-summed
      assert(rows(spark.sql(sql)) == routedRows, "day-grain serving diverges")
      assert(routedRows.nonEmpty)
    } finally graft.cube.RollupCube.ensure(spark, sf)
  }

  test("SumOfLiteralRewrite turns grouped sum(lit) into count*lit with equal results") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
    val df = Tables.t(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(sum(lit(3)).as("s3"), count(lit(1)).as("cnt"))
    val optimized = df.queryExecution.optimizedPlan
    val sumOfLit = optimized.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.aggregateExpressions.flatMap(_.collect {
          case AggregateExpression(s: Sum, _, _, _, _)
            if s.child.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] => s
        })
    }.flatten
    assert(sumOfLit.isEmpty, "sum(literal) should have been rewritten")
    val rows = df.collect()
    assert(rows.forall(r => r.getLong(1) == 3L * r.getLong(2)))
  }

  test("global aggregates serve from the rollup, including the zero-row edge") {
    import graft.cube.CubeCatalog
    for (t <- Tables.starTables)
      Tables.t(spark, sf, t).createOrReplaceTempView(t)
    graft.cube.RollupCube.ensure(spark, sf)
    val sql =
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sq,
        |  min(l_extendedprice) AS mn
        |FROM lineitem""".stripMargin
    val routed = spark.sql(sql)
    val scansRollup = routed.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.optimizedPlan.exists {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains("_rollup"))
            case _ => false
          }
        case _ => false
      }
    assert(scansRollup, "global aggregate should be served from the rollup")
    val got = routed.head()
    val want = {
      spark.conf.set("spark.graft.starJoin.enabled", "false")
      try spark.sql(sql).head()
      finally spark.conf.set("spark.graft.starJoin.enabled", "true")
    }
    assert(got == want)
    assert(got.getLong(0) > 0L)
    // a time filter that empties the cube must still yield count 0 (the
    // coalesce in the count merge), never NULL
    val empty = spark.sql(
      """SELECT count(*) AS n FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2050-01-01'""".stripMargin).head()
    assert(!empty.isNullAt(0) && empty.getLong(0) == 0L)
  }
}
