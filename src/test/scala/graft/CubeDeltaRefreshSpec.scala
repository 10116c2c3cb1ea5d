package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube.{CubeCatalog, CubeGenerations, CubeRefresh, RegisteredCube, RollupBuild,
  RollupCube, RollupMeta, StarListing, TpchCube}
import graft.sources.CubeSource

/** The refresh's two paths: the delta path appends the new cube rows and
  * node partials beside the old files when its gate proves a pure append;
  * every failing gate condition sends it down the full path. Each case
  * checks the served answers against raw Spark over the same sources.
  */
class CubeDeltaRefreshSpec extends AnyFunSuite {
  import TestSpark._

  private val srcSf = sf
  private val root = "/tmp/graft_delta_refresh"

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** A star copy under `root/<name>` whose lineitem lacks its last ship
    * month and the even-order rows of an older month (the held rows).
    */
  private final case class Star(name: String) {
    val dir = s"$root/$name"
    val cubes = s"$root/${name}_cubes"
    val tablePaths: Map[String, String] =
      TpchCube.roleOfTable.keys.map(t => t -> Tables.path(dir, t)).toMap
    def path(t: String): String = Tables.path(dir, t)
    def info = TpchCube.info.copy(name = s"delta_$name")
    def flat: DataFrame = CubeSource.flatten(spark, info, tablePaths)
    def cube: RegisteredCube = CubeCatalog.get(info.name).get
    def node(suffix: String): RollupMeta =
      cube.rollups.find(r => CubeGenerations.rootOf(r.path).endsWith(suffix)).get
    def refresh(explicit: Option[Seq[Int]] = None): CubeRefresh.Result = {
      Tables.invalidateCache()
      CubeRefresh.refresh(spark, cube, flat, explicit)
    }
    def close(): Unit = CubeCatalog.unregister(info.name)
  }

  private val li = spark.read.parquet(Tables.path(srcSf, "lineitem"))
  private val bucket = TpchCube.bucketExpr("l_shipdate")
  private val newBucket = li.select(max(bucket)).head().getInt(0)
  private val lateBucket = newBucket - 24
  private val held = bucket === newBucket ||
    (bucket === lateBucket && col("l_orderkey") % 2 === 0)

  /** Seed the star (`lineitem` transformed by `facts`) and build its flat
    * cube plus the given lattice nodes of the TPC-H lattice.
    */
  private def seed(name: String, nodes: Seq[String] = Seq("coarse"),
                   facts: DataFrame => DataFrame = identity): Star = {
    val s = Star(name)
    rmTree(new java.io.File(s.dir))
    rmTree(new java.io.File(s.cubes))
    new java.io.File(s.cubes).mkdirs()
    for (t <- Tables.starTables) {
      val df = spark.read.parquet(Tables.path(srcSf, t))
      (if (t == "lineitem") facts(df.filter(!held)) else df)
        .coalesce(1).write.mode("overwrite").parquet(s.path(t))
    }
    Tables.invalidateCache()
    CubeSource.materialize(spark, s.info, s.tablePaths, s"${s.cubes}/flat")
    nodes.foreach { n =>
      val m = if (n == "coarse") RollupCube.coarseMeta(s.dir) else RollupCube.meta(s.dir)
      RollupBuild.materialize(spark, s.info.name, m.copy(path = s"${s.cubes}/$n"))
    }
    s
  }

  private def appendHeld(s: Star, rows: Column = lit(true)): Unit =
    li.filter(held && rows).coalesce(1).write.mode("append").parquet(s.path("lineitem"))

  /** Dashboard-like queries over the star join: served from the cube and
    * its nodes when rewrites are on.
    */
  private def queries(s: Star): Seq[DataFrame] = {
    val f = s.flat
    Seq(
      f.groupBy("c_mktsegment", "l_returnflag")
        .agg(count(lit(1)).as("cnt"), Tables.dsum(col("l_quantity")).as("q")),
      f.groupBy("c_mktsegment").agg(countDistinct(col("o_custkey")).as("customers")),
      f.groupBy(bucket.as("b"), col("s_nation")).agg(count(lit(1)).as("cnt"),
        Tables.dsum(col("l_extendedprice")).as("p")))
  }

  private def answers(dfs: Seq[DataFrame]): Seq[Set[Seq[Any]]] =
    dfs.map(_.collect().map(_.toSeq).toSet)

  private def assertAnswersLikeRaw(s: Star): Unit = {
    Tables.invalidateCache()
    val served = answers(queries(s))
    val raw = Graft.withoutRewrites(spark)(answers(queries(s)))
    assert(served == raw)
    assert(spark.read.parquet(s.cube.cubePath).count() ==
      Graft.withoutRewrites(spark)(s.flat.count()))
  }

  private def assertFull(r: CubeRefresh.Result, reason: String): Unit =
    assert(r.path == CubeRefresh.FullPath && r.fullReason.contains(reason),
      s"${r.path} ${r.fullReason}")

  test("gate: a rewritten fact file takes the full path") {
    val s = seed("fact_rewritten")
    li.coalesce(1).write.mode("overwrite").parquet(s.path("lineitem"))
    val r = s.refresh()
    assertFull(r, "fact file rewritten")
    assert(r.dirtyBuckets.contains(newBucket) && r.dirtyBuckets.contains(lateBucket))
    assertAnswersLikeRaw(s)
    s.close()
  }

  test("gate: a rewritten dimension file takes the full path over every bucket") {
    val s = seed("dim_rewritten")
    val cust = spark.read.parquet(Tables.path(srcSf, "customer"))
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 3 === 0, lit("MACHINERY")).otherwise(col("c_mktsegment")))
    cust.coalesce(1).write.mode("overwrite").parquet(s.path("customer"))
    val bucketsBefore = spark.read.parquet(s.cube.cubePath).select("g_tbucket").distinct().count()
    val r = s.refresh()
    assertFull(r, "dimension file rewritten")
    assert(r.dirtyBuckets.size == bucketsBefore)
    assertAnswersLikeRaw(s)
    s.close()
  }

  test("gate: an appended dimension row with an old key takes the full path") {
    val s = seed("dim_key_reused")
    // an exact duplicate of a customer: every old order of that customer
    // now joins twice
    spark.read.parquet(Tables.path(srcSf, "customer")).filter(col("c_custkey") === 7)
      .coalesce(1).write.mode("append").parquet(s.path("customer"))
    val r = s.refresh()
    assertFull(r, "dimension key reused")
    assertAnswersLikeRaw(s)
    s.close()
  }

  test("gate: unjoined fact rows take the full path, before and after the delta") {
    // old fact rows reference an order the star lacks: the cube dropped them
    val keyType = li.schema("l_orderkey").dataType
    val missing = lit(5000000L).cast(keyType)
    val first = li.select(min("l_orderkey")).head().get(0)
    val s = seed("unjoined", facts = df =>
      df.withColumn("l_orderkey", when(col("l_orderkey") === first, missing)
        .otherwise(col("l_orderkey"))))
    assert(spark.read.parquet(s.cube.cubePath).count() <
      Graft.withoutRewrites(spark)(spark.read.parquet(s.path("lineitem")).count()))
    // appending that order (a new key) makes the old rows join
    val orders = spark.read.parquet(Tables.path(srcSf, "orders"))
    orders.filter(col("o_orderkey") === first)
      .withColumn("o_orderkey", missing.cast(orders.schema("o_orderkey").dataType))
      .coalesce(1).write.mode("append").parquet(s.path("orders"))
    assertFull(s.refresh(), "unjoined fact rows")
    assertAnswersLikeRaw(s)

    // appended fact rows that join no order are found by the delta itself
    appendHeld(s)
    li.limit(3).withColumn("l_orderkey", (missing + 1).cast(keyType))
      .coalesce(1).write.mode("append").parquet(s.path("lineitem"))
    assertFull(s.refresh(), "unjoined fact rows")
    assertAnswersLikeRaw(s)
    s.close()
  }

  test("gate: a generation without listings takes the full path") {
    val s = seed("no_listing")
    new java.io.File(s.cube.cubePath, StarListing.SidecarName).delete()
    appendHeld(s)
    val r = s.refresh()
    assertFull(r, "no listing")
    assert(r.dirtyBuckets == Seq(lateBucket, newBucket), r.dirtyBuckets.toString)
    assertAnswersLikeRaw(s)
    s.close()
  }

  test("gate: explicit buckets take the full path") {
    val s = seed("explicit")
    appendHeld(s)
    val r = s.refresh(Some(Seq(lateBucket, newBucket)))
    assertFull(r, "explicit buckets")
    assertAnswersLikeRaw(s)
    s.close()
  }

  test("appended orders with new keys and their lines take the delta path") {
    val s = seed("dim_append")
    val orders = spark.read.parquet(Tables.path(srcSf, "orders"))
    val shift = orders.select(max("o_orderkey")).head().getLong(0) + 1000
    // new orders (new keys) and their lines, shipped in the held month
    spark.read.parquet(Tables.path(srcSf, "orders")).filter(col("o_orderkey") < 20)
      .withColumn("o_orderkey", col("o_orderkey") + shift)
      .coalesce(1).write.mode("append").parquet(s.path("orders"))
    li.filter(col("l_orderkey") < 20)
      .withColumn("l_orderkey", col("l_orderkey") + shift)
      .withColumn("l_shipdate", expr("l_shipdate + INTERVAL 3650 DAYS"))
      .coalesce(1).write.mode("append").parquet(s.path("lineitem"))
    val r = s.refresh()
    assert(r.path == CubeRefresh.DeltaPath, r.fullReason)
    assert(r.cubeRowsWritten == li.filter(col("l_orderkey") < 20).count())
    assertAnswersLikeRaw(s)
    s.close()
  }

  /** Per group of `c_mktsegment`, every metric the fine node serves,
    * merged from its rows the way serving merges them.
    */
  private def served(nodePath: String): Map[String, Seq[Any]] = {
    import RollupCube.merge._
    spark.read.parquet(nodePath).groupBy("c_mktsegment")
      .agg(cnt, sumOf("l_quantity"), sum("sum_qty").as("dec_qty"),
        min("min_qty").as("min_qty"), max("max_price").as("max_price"),
        avgOf("l_extendedprice"), customersTheta, customers,
        percentileOf("l_extendedprice", 0.5), freqItemsOf("l_suppkey"))
      .collect().map(r => r.getString(0) -> r.toSeq.tail.map {
        case items: Seq[_] => items.map { case x: Row => x.toSeq }.toSet
        case v             => v
      }).toMap
  }

  test("a node bucket of several partial files, then one compacted, serves like a rebuilt node") {
    val s = seed("partials", nodes = Seq("fine"))
    val lateDir = s"g_tbucket=$lateBucket"
    def lateFiles(path: String) =
      StarListing.dataFiles(java.nio.file.Paths.get(path, lateDir)).size
    def rebuiltEquals(): Unit = {
      val scratch = Star("partials_scratch")
      rmTree(new java.io.File(scratch.cubes))
      CubeSource.materialize(spark, scratch.info, s.tablePaths, s"${scratch.cubes}/flat")
      RollupBuild.materialize(spark, scratch.info.name,
        RollupCube.meta(s.dir).copy(path = s"${scratch.cubes}/fine"))
      assert(served(s.node("fine").path) == served(scratch.node("fine").path))
      scratch.close()
    }
    // the late month's held rows, one small file per refresh
    val chunks = CubeRefresh.MaxFilesPerBucket
    val late = li.filter(held && bucket === lateBucket)
      .withColumn("_i", row_number().over(Window.orderBy("l_orderkey", "l_linenumber")))
    assert(late.count() >= chunks)
    for (i <- 0 until chunks) {
      late.filter(col("_i") % chunks === i).drop("_i")
        .coalesce(1).write.mode("append").parquet(s.path("lineitem"))
      val r = s.refresh()
      assert(r.path == CubeRefresh.DeltaPath, r.fullReason)
      if (i == chunks - 2) {
        // every refresh so far appended one partial file to the bucket
        assert(lateFiles(s.node("fine").path) == chunks)
        assert(lateFiles(s.cube.cubePath) == chunks)
        rebuiltEquals()
      }
    }
    // the last append took the bucket past the bound: compacted to one file
    assert(lateFiles(s.node("fine").path) == 1)
    assert(lateFiles(s.cube.cubePath) == 1)
    rebuiltEquals()
    assertAnswersLikeRaw(s)
    s.close()
  }

  /** Runs `body` and returns the Spark jobs it started: each job's call
    * site, whether it ran inside a SQL execution, and its records read.
    */
  private def jobsOf(body: => Unit): Seq[(String, Boolean, Long)] = {
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, (String, Boolean)]
    val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val records = scala.collection.concurrent.TrieMap.empty[Int, Long]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        jobs.put(e.jobId, (p.map(_.getProperty("callSite.short", "")).getOrElse(""),
          p.exists(_.getProperty("spark.sql.execution.id") != null)))
        e.stageIds.foreach(stageJob.put(_, e.jobId))
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        for (job <- stageJob.get(e.stageId) if e.taskMetrics != null) records.synchronized {
          records.put(job, records.getOrElse(job, 0L) + e.taskMetrics.inputMetrics.recordsRead)
          ()
        }
    }
    org.apache.spark.sql.graft.ListenerBusUtil.waitUntilEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try body finally {
      org.apache.spark.sql.graft.ListenerBusUtil.waitUntilEmpty(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.toSeq.sortBy(_._1).map { case (id, (site, sql)) => (site, sql, records.getOrElse(id, 0L)) }
  }

  /** Schema inference of parquet files: a `parquet at` job outside any SQL
    * execution (writes run inside one).
    */
  private def inference(jobs: Seq[(String, Boolean, Long)]) =
    jobs.filter { case (site, sql, _) => site.startsWith("parquet at") && !sql }

  test("no schema-inference job in a node build, a delta refresh or the first plan after it") {
    val s = seed("no_inference")
    val build = jobsOf(RollupBuild.materialize(spark, s.info.name,
      RollupCube.meta(s.dir).copy(path = s"${s.cubes}/fine")))
    assert(inference(build).isEmpty, build.toString)
    appendHeld(s)
    Tables.invalidateCache()
    val flat = s.flat
    var r: CubeRefresh.Result = null
    val refresh = jobsOf { r = CubeRefresh.refresh(spark, s.cube, flat) }
    assert(r.path == CubeRefresh.DeltaPath, r.fullReason)
    assert(inference(refresh).isEmpty, refresh.toString)
    // the frames read the raw star tables, whose schemas are inferred when
    // they are built; their plans read the new generations
    val qs = queries(s)
    val firstPlan = jobsOf(qs.foreach(_.queryExecution.executedPlan))
    assert(inference(firstPlan).isEmpty, firstPlan.toString)
    assertAnswersLikeRaw(s)
    s.close()
  }

  test("records read and jobs per delta refresh do not grow with 4x the history") {
    // the same star, its lineitem once and four times over (three earlier
    // copies shifted back by whole decades of ship dates), same dimensions
    val small = seed("history_1x")
    val large = seed("history_4x", facts = df => (0 until 4).map(k =>
      df.withColumn("l_shipdate", expr(s"l_shipdate - INTERVAL ${3650 * k} DAYS")))
      .reduce(_ union _))
    assert(spark.read.parquet(large.cube.cubePath).count() ==
      4 * spark.read.parquet(small.cube.cubePath).count())
    val runs = Seq(small, large).map { s =>
      appendHeld(s)
      Tables.invalidateCache()
      val flat = s.flat
      var r: CubeRefresh.Result = null
      val jobs = jobsOf { r = CubeRefresh.refresh(spark, s.cube, flat) }
      assert(r.path == CubeRefresh.DeltaPath, r.fullReason)
      (jobs.size, jobs.map(_._3).sum)
    }
    assert(runs(0) == runs(1), s"(jobs, records read) at 1x and 4x history: $runs")
    assertAnswersLikeRaw(large)
    Seq(small, large).foreach(_.close())
  }

  test("a star changed in place never reuses the old TPC-H cube") {
    val dir = s"$root/tag_star"
    rmTree(new java.io.File(dir))
    // Spark-written tables: directories of part files
    def write(lineitem: DataFrame): Unit = {
      for (t <- Tables.starTables) {
        val df = if (t == "lineitem") lineitem else spark.read.parquet(Tables.path(srcSf, t))
        df.coalesce(1).write.mode("overwrite").parquet(Tables.path(dir, t))
      }
      Tables.invalidateCache()
    }
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    def cubeRowsMatchStar(): Unit = {
      paths += TpchCube.cubePath(dir)
      val cube = TpchCube.ensure(spark, dir)
      assert(spark.read.parquet(cube.cubePath).count() ==
        Graft.withoutRewrites(spark)(Tables.flat(spark, dir).count()))
    }
    write(li.filter(!held))
    assert(Tables.contentTag(dir) != "d41d8cd9", "a directory star hashed as empty")
    cubeRowsMatchStar()
    // a different star at the same path
    write(li.filter(bucket =!= lateBucket))
    cubeRowsMatchStar()
    // an append at that path
    li.filter(bucket === lateBucket).coalesce(1).write.mode("append")
      .parquet(Tables.path(dir, "lineitem"))
    Tables.invalidateCache()
    cubeRowsMatchStar()
    assert(paths.distinct.size == 3, paths.toString)
    CubeCatalog.unregister(s"tpch_flat_${new java.io.File(dir).getName}")
    paths.foreach(CubeGenerations.wipeAll)
  }
}
