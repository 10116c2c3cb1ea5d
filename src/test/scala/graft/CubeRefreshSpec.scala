package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube.{CubeCatalog, CubeGenerations, CubeRefresh, RegisteredCube, RollupBuild,
  RollupCube, RollupMeta, TpchCube}
import graft.sources.CubeSource

/** Incremental cube refresh: grow the fact table (new months AND a
  * late-arriving mid-month batch), refresh, and prove the cube + every
  * rollup node serve results identical to a from-scratch build — while only
  * the dirty buckets were rewritten. The first case rewrites the fact table
  * in place (the fallback path: whole-table detection and whole-generation
  * stats); the append cases add a file and rewrite nothing (detection from
  * the new file, stats and proofs from the dirty slice).
  */
class CubeRefreshSpec extends AnyFunSuite {
  import TestSpark._

  private val srcSf = "/root/testdata/sf0.001"
  private val workDir = "/tmp/graft_refresh_sf"
  // cutoff mid-month: bucket 317 (1996-06) exists at build time but GROWS on
  // refresh — exercising the late-arrival path, not just new months
  private val cutoff = "1996-06-15"

  private def seedWorkDir(): Unit = {
    val dir = new java.io.File(workDir)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(dir)
    // wipe every GENERATION (pointer + .gen-N siblings + root data) of
    // the cube and all lattice nodes — a refresh now publishes new
    // generation dirs beside the build roots (CubeGenerations)
    Seq(TpchCube.cubePath(workDir), RollupCube.rollupPath(workDir),
      RollupCube.coarsePath(workDir), RollupCube.slicePath(workDir),
      RollupCube.q1Path(workDir), RollupCube.q3Path(workDir),
      RollupCube.nationsPath(workDir), RollupCube.marketPath(workDir),
      RollupCube.ordersNationsPath(workDir))
      .foreach(graft.cube.CubeGenerations.wipeAll)
    dir.mkdirs()
    for (t <- Tables.starTables) {
      val df = spark.read.parquet(Tables.path(srcSf, t))
      val out =
        if (t == "lineitem") df.filter(col("l_shipdate") < lit(cutoff).cast("timestamp"))
        else df
      out.coalesce(1).write.mode("overwrite").parquet(Tables.path(workDir, t))
    }
    Tables.invalidateCache()
  }

  test("refresh rewrites only dirty buckets and matches a full rebuild") {
    seedWorkDir()
    TpchCube.ensure(spark, workDir)
    RollupCube.ensure(spark, workDir)
    val name = s"tpch_flat_${new java.io.File(workDir).getName}"
    val before = CubeCatalog.get(name).get
    val bucketsBefore = spark.read.parquet(before.cubePath)
      .select("g_tbucket").distinct().collect().map(_.getInt(0)).toSet

    // the fact table grows: full lineitem replaces the truncated one
    spark.read.parquet(Tables.path(srcSf, "lineitem"))
      .coalesce(1).write.mode("overwrite").parquet(Tables.path(workDir, "lineitem"))
    Tables.invalidateCache()

    val result = CubeRefresh.refresh(spark, before, Tables.flat(spark, workDir))
    val after = result.refreshed

    // dirty set = the grown mid-month bucket + every later month; nothing
    // before the cutoff month was touched
    val cutoffBucket = (1996 - 1970) * 12 + 6 - 1
    assert(result.dirtyBuckets.min == cutoffBucket, result.dirtyBuckets.toString)
    assert(result.dirtyBuckets.size > 1)
    assert(bucketsBefore.filter(_ < cutoffBucket)
      .forall(b => !result.dirtyBuckets.contains(b)))

    // baselines must come from the raw facts, NOT via the engine's own
    // rewrite onto the (refreshed) cube/rollup — that would be circular
    def withoutRewrites[T](body: => T): T = {
      spark.conf.set("spark.graft.starJoin.enabled", "false")
      spark.conf.set("spark.graft.rollupRouting.enabled", "false")
      try body finally {
        spark.conf.set("spark.graft.starJoin.enabled", "true")
        spark.conf.set("spark.graft.rollupRouting.enabled", "true")
      }
    }

    // cube content now equals a direct flatten of the full sources
    val cubeCount = spark.read.parquet(after.cubePath).count()
    val directCount = withoutRewrites { Tables.flat(spark, workDir).count() }
    assert(cubeCount == directCount)

    // the time interval metadata extended past the cutoff
    val hi = after.info.timeIntervalMicros.get._2
    assert(hi > java.time.Instant.parse(s"${cutoff}T00:00:00Z").toEpochMilli * 1000L)

    // every rollup node re-aggregates to the same answer as the raw facts
    val direct = withoutRewrites {
      Tables.flat(spark, workDir)
        .groupBy("c_mktsegment", "l_returnflag")
        .agg(count(lit(1)).as("cnt"), Tables.dsum(col("l_quantity")).as("sum_qty"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    }
    for (ru <- after.rollups if ru.dims.toSet.intersect(
        Set("c_mktsegment", "l_returnflag")).size == 2) {
      val served = spark.read.parquet(ru.path)
        .groupBy("c_mktsegment", "l_returnflag")
        .agg(sum(col("cnt")).as("cnt"),
          sum(col("sum_qty")).cast("double").as("sum_qty"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
      assert(served == direct, s"rollup at ${ru.path} diverged")
    }

    // exact-NDV proof was refreshed (customers only grow)
    val ndvBefore = before.rollups.head.kmvExactNdv("o_custkey")
    val ndvAfter = after.rollups.head.kmvExactNdv("o_custkey")
    assert(ndvAfter >= ndvBefore)

    // idempotent: a second refresh finds nothing dirty
    val again = CubeRefresh.refresh(spark, after, Tables.flat(spark, workDir))
    assert(again.dirtyBuckets.isEmpty)

    // rebuilds preserve declared leaf clustering: inside every parquet file
    // of a clusterDims node, the cluster column must be non-decreasing —
    // that monotonicity is exactly what makes row-group min/max stats
    // skippable. (Checked per FILE: split packing may put several small
    // files in one partition, and sortedness across files is not claimed.)
    def firstColViolations(path: String, c: String): Long = {
      val df = spark.read.parquet(path)
      // numeric cluster dims must compare numerically — "10" < "9"
      // lexicographically would flag correctly sorted files
      val v = df.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType =>
          format_string("%020.6f", col(c).cast("double"))
        case _ => col(c).cast("string")
      }
      df.select(input_file_name().as("f"), v.as("v"))
        .rdd.mapPartitions { it =>
          var prevFile = ""; var prev = ""; var bad = 0L
          it.foreach { r =>
            val f = r.getString(0)
            val v = if (r.isNullAt(1)) "" else r.getString(1)
            if (f == prevFile && v < prev) bad += 1
            prevFile = f; prev = v
          }
          Iterator.single(bad)
        }.fold(0L)(_ + _)
    }
    for (ru <- after.rollups if ru.clusterDims.nonEmpty)
      assert(firstColViolations(ru.path, ru.clusterDims.head) == 0,
        s"node ${ru.path} lost its ${ru.clusterDims.head} clustering after refresh")
    // the fact cube's own declared clustering survives the dirty-bucket
    // rewrite too (CubeInfo.clusterDims)
    assert(after.info.clusterDims.nonEmpty)
    assert(firstColViolations(after.cubePath, after.info.clusterDims.head) == 0,
      "fact cube lost its intra-bucket clustering after refresh")
  }

  private val appendDir = "/tmp/graft_refresh_append"
  private val appendCubes = "/tmp/graft_refresh_append_cubes"

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** A star copy whose lineitem lacks its last ship month and the
    * even-order rows of an older month. Returns that (new, late) bucket
    * pair and the held-back rows.
    */
  private def seedAppendDir(): (Int, Int, DataFrame) = {
    rmTree(new java.io.File(appendDir))
    rmTree(new java.io.File(appendCubes))
    new java.io.File(appendCubes).mkdirs()
    val li = spark.read.parquet(Tables.path(srcSf, "lineitem"))
    val bucket = TpchCube.bucketExpr("l_shipdate")
    val newBucket = li.select(max(bucket)).head().getInt(0)
    val lateBucket = newBucket - 24
    val held = bucket === newBucket ||
      (bucket === lateBucket && col("l_orderkey") % 2 === 0)
    for (t <- Tables.starTables) {
      val df = spark.read.parquet(Tables.path(srcSf, t))
      (if (t == "lineitem") df.filter(!held) else df)
        .coalesce(1).write.mode("overwrite").parquet(Tables.path(appendDir, t))
    }
    Tables.invalidateCache()
    (newBucket, lateBucket, li.filter(held))
  }

  private val tablePaths: Map[String, String] =
    TpchCube.roleOfTable.keys.map(t => t -> Tables.path(appendDir, t)).toMap

  /** The generic build: flat cube plus the coarse and the sketch-carrying
    * fine lattice node, under `appendCubes/<prefix>_*`.
    */
  private def build(name: String, prefix: String): RegisteredCube = {
    val info = TpchCube.info.copy(name = name)
    CubeSource.materialize(spark, info, tablePaths, s"$appendCubes/${prefix}_flat")
    Seq(RollupCube.coarseMeta(appendDir).copy(path = s"$appendCubes/${prefix}_coarse"),
      RollupCube.meta(appendDir).copy(path = s"$appendCubes/${prefix}_fine"))
      .foreach(RollupBuild.materialize(spark, name, _))
    CubeCatalog.get(name).get
  }

  private def node(cube: RegisteredCube, suffix: String): RollupMeta =
    cube.rollups.find(r => CubeGenerations.rootOf(r.path).endsWith(suffix)).get

  test("an appended fact file refreshes from its own buckets and the dirty slice") {
    val (newBucket, lateBucket, held) = seedAppendDir()
    val before = build("refresh_append", "inc")
    held.coalesce(1).write.mode("append").parquet(Tables.path(appendDir, "lineitem"))
    Tables.invalidateCache()

    // records read per job, over the whole refresh
    val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val jobRecords = scala.collection.concurrent.TrieMap.empty[Int, Long]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        e.stageIds.foreach(stageJob.put(_, e.jobId))
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        for (job <- stageJob.get(e.stageId) if e.taskMetrics != null) {
          val n = e.taskMetrics.inputMetrics.recordsRead
          jobRecords.synchronized {
            jobRecords.put(job, jobRecords.getOrElse(job, 0L) + n); ()
          }
        }
    }
    org.apache.spark.sql.graft.ListenerBusUtil.waitUntilEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val result =
      try CubeRefresh.refresh(spark, before, CubeSource.flatten(spark, before.info, tablePaths))
      finally {
        org.apache.spark.sql.graft.ListenerBusUtil.waitUntilEmpty(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val after = result.refreshed

    // detection scanned only the new file: exactly its two buckets
    assert(result.incremental)
    assert(result.dirtyBuckets == Seq(lateBucket, newBucket), result.dirtyBuckets.toString)

    // the engine reports contiguous phases that add up to the refresh
    assert(result.phasesMs.map(_._1) ==
      Seq("detect", "cube_slice", "node:inc_coarse", "node:inc_fine", "stats", "publish"))
    val phaseSum = result.phasesMs.map(_._2).sum
    assert(math.abs(phaseSum - wallMs) <= 0.05 * wallMs,
      f"phases sum to $phaseSum%.0f ms of a $wallMs%.0f ms refresh")
    assert(graft.plans.QueryHistory.snapshot.exists(e =>
      e.served == "build:refresh:refresh_append" && e.planHead.contains("stats=")))

    // no whole-cube pass: the one job that reads as many records as the
    // cube holds is the flattening join's scan of the raw fact table
    val cubeRows = spark.read.parquet(after.cubePath).count()
    val big = jobRecords.filter(_._2 >= cubeRows)
    assert(big.size <= 1, s"jobs reading >= $cubeRows records: $big of $jobRecords")
    assert(jobRecords.values.sum < 2 * cubeRows,
      s"the refresh read ${jobRecords.values.sum} records for a $cubeRows-row cube")
    assert(result.cubeRowsWritten == spark.read.parquet(after.cubePath)
      .filter(col("g_tbucket").isin(lateBucket, newBucket)).count())

    // exact figures match a from-scratch build on the same sources; the
    // NDV proof values and the lag bounds are sound upper bounds
    val scratch = build("refresh_append_scratch", "scratch")
    assert(cubeRows == spark.read.parquet(scratch.cubePath).count())
    assert(after.info.timeIntervalMicros == scratch.info.timeIntervalMicros)
    assert(after.info.timeNullFree == scratch.info.timeNullFree)
    assert(after.info.timeDayQuantized == scratch.info.timeDayQuantized)
    val (lo, hi) = after.info.timeLagBounds("o_orderdate")
    val (slo, shi) = scratch.info.timeLagBounds("o_orderdate")
    assert(lo <= slo && hi >= shi, s"lag bounds ($lo, $hi) miss measured ($slo, $shi)")
    for (suffix <- Seq("_coarse", "_fine")) {
      val (got, want) = (node(after, suffix), node(scratch, suffix))
      assert(got.totalRows == want.totalRows)
      want.exactNullCount.foreach { case (c, n) => assert(got.exactNullCount(c) == n, c) }
      want.kmvExactNdv.foreach { case (c, n) =>
        assert(got.kmvExactNdv(c) >= n, s"$c: proof value ${got.kmvExactNdv(c)} < exact $n")
      }
    }
    // dimension NDVs come from unioned sketches: estimates of the same data
    for (c <- after.info.columns if c.cardinality.isDefined) {
      val want = scratch.info.columnByName(c.name).cardinality.get.toDouble
      assert(math.abs(c.cardinality.get - want) <= 0.05 * want + 1, c.toString)
    }

    // the lattice serves what a rebuild serves
    def nodeTotals(path: String) = spark.read.parquet(path)
      .groupBy("c_mktsegment", "l_returnflag")
      .agg(sum("cnt").as("cnt"), sum("sum_qty").cast("double").as("q"))
      .collect().map(_.toSeq).toSet
    assert(nodeTotals(node(after, "_fine").path) == nodeTotals(node(scratch, "_fine").path))
    assert(nodeTotals(node(after, "_coarse").path) == nodeTotals(node(scratch, "_coarse").path))

    // nothing new: a second refresh finds no dirty bucket
    assert(CubeRefresh.refresh(spark, after,
      CubeSource.flatten(spark, after.info, tablePaths)).dirtyBuckets.isEmpty)
    Seq("refresh_append", "refresh_append_scratch").foreach(CubeCatalog.unregister)
  }

  test("a fact file appended after the flattening frame was built is picked up next time") {
    val (newBucket, lateBucket, held) = seedAppendDir()
    val before = build("refresh_stale_frame", "stale")
    // the frame's file index is fixed here, before the file lands
    val staleFlat = CubeSource.flatten(spark, before.info, tablePaths)
    held.coalesce(1).write.mode("append").parquet(Tables.path(appendDir, "lineitem"))
    Tables.invalidateCache()
    def rawRows() = Graft.withoutRewrites(spark)(
      CubeSource.flatten(spark, before.info, tablePaths).count())

    // detection sees the new file, but the frame cannot supply its rows
    val first = CubeRefresh.refresh(spark, before, staleFlat)
    assert(first.dirtyBuckets == Seq(lateBucket, newBucket), first.dirtyBuckets.toString)
    assert(spark.read.parquet(first.refreshed.cubePath).count() < rawRows())

    // so the file was not recorded as absorbed: the next refresh scans it
    val second = CubeRefresh.refresh(spark, first.refreshed,
      CubeSource.flatten(spark, before.info, tablePaths))
    assert(second.incremental)
    assert(second.dirtyBuckets == Seq(lateBucket, newBucket), second.dirtyBuckets.toString)
    assert(spark.read.parquet(second.refreshed.cubePath).count() == rawRows())
    CubeCatalog.unregister("refresh_stale_frame")
  }

  test("a day-grain node built by RollupBuild answers like raw Spark after an append refresh") {
    val (_, _, held) = seedAppendDir()
    val name = "refresh_day_node"
    val info = TpchCube.info.copy(name = name)
    CubeSource.materialize(spark, info, tablePaths, s"$appendCubes/day_flat")
    val dayNode = RollupCube.q1Meta(appendDir).copy(path = s"$appendCubes/day_q1")
    RollupBuild.materialize(spark, name, dayNode)
    held.coalesce(1).write.mode("append").parquet(Tables.path(appendDir, "lineitem"))
    Tables.invalidateCache()
    val result = CubeRefresh.refresh(spark, CubeCatalog.get(name).get,
      CubeSource.flatten(spark, info, tablePaths))
    assert(result.incremental && result.dirtyBuckets.nonEmpty)

    // a day-aligned, month-unaligned interval: only the day node serves it
    def q1(df: DataFrame) = df
      .filter(col("l_shipdate") >= lit("1995-03-15").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), Tables.dsum(col("l_quantity")).as("q"),
        Tables.dsum(col("l_extendedprice")).as("p"))
    val served = q1(spark.read.parquet(result.refreshed.cubePath))
    assert(scannedRoots(served).exists(_.startsWith(s"$appendCubes/day_q1")),
      scannedRoots(served).toString)
    val raw = Graft.withoutRewrites(spark)(
      q1(spark.read.parquet(Tables.path(appendDir, "lineitem"))).collect().map(_.toSeq).toSet)
    assert(served.collect().map(_.toSeq).toSet == raw)
    CubeCatalog.unregister(name)
  }

  /** Root paths of the file scans in `df`'s optimized plan. */
  private def scannedRoots(df: DataFrame): Seq[String] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.optimizedPlan
      .collect { case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
        case _                    => Nil
      } }.flatten

  test("reads racing an append refresh each see exactly one generation") {
    val (_, lateBucket, held) = seedAppendDir()
    val before = build("refresh_race", "race")
    val month0 = java.time.LocalDate.of(1970, 1, 1).plusMonths(lateBucket.toLong)
    val queries: Seq[SparkSession => DataFrame] = Seq(
      s => Tables.flat(s, appendDir).groupBy("c_mktsegment", "l_returnflag")
        .agg(count(lit(1)).as("cnt"), Tables.dsum(col("l_quantity")).as("q")),
      s => Tables.flat(s, appendDir).groupBy("c_mktsegment")
        .agg(countDistinct(col("o_custkey")).as("customers")),
      s => Tables.flat(s, appendDir)
        .filter(col("l_shipdate") >= lit(month0.toString).cast("timestamp") &&
          col("l_shipdate") < lit(month0.plusMonths(1).toString).cast("timestamp"))
        .groupBy("s_nation").agg(count(lit(1)).as("cnt")))
    // the readers get a session of their own: the refresh turns rewrites
    // off in its session while it reads raw sources (Graft.withoutRewrites),
    // and readers sharing that session would be answered raw
    val readerSession = spark.newSession()
    Graft.install(readerSession)
    def answers(s: SparkSession): Seq[Set[Seq[Any]]] =
      queries.map(q => q(s).collect().map(_.toSeq).toSet)
    // every query reads its fact rows from the cube or a lattice node,
    // never the fact table (the only table that changes): only then does
    // an answer show which generation it read
    val factTable = Tables.path(appendDir, "lineitem")
    def factScans(df: DataFrame) = {
      val roots = scannedRoots(df)
      if (roots.exists(_.startsWith(appendCubes))) roots.filter(_ == factTable)
      else Seq(s"no cube scan in $roots")
    }
    queries.foreach(q => assert(factScans(q(readerSession)).isEmpty,
      factScans(q(readerSession)).toString))
    val rawBefore = Graft.withoutRewrites(spark)(answers(spark))
    assert(answers(readerSession) == rawBefore,
      "served answers differ from raw before the append")
    held.coalesce(1).write.mode("append").parquet(Tables.path(appendDir, "lineitem"))
    Tables.invalidateCache()
    val rawAfter = Graft.withoutRewrites(spark)(answers(spark))
    assert(rawAfter != rawBefore)

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stale = new java.util.concurrent.atomic.AtomicInteger(0)
    val fresh = new java.util.concurrent.atomic.AtomicInteger(0)
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readers = queries.indices.map { i =>
      new Thread(() => {
        while (!stop.get()) {
          try {
            val df = queries(i)(readerSession)
            val got = df.collect().map(_.toSeq).toSet
            if (got == rawBefore(i)) stale.incrementAndGet()
            else if (got == rawAfter(i)) fresh.incrementAndGet()
            else violations.add(s"query $i: $got")
            if (factScans(df).nonEmpty) violations.add(s"query $i scanned ${factScans(df)}")
          } catch { case t: Throwable => violations.add(s"query $i threw: $t") }
        }
      })
    }
    readers.foreach(_.start())
    val result = try CubeRefresh.refresh(spark, before,
      CubeSource.flatten(spark, before.info, tablePaths))
    finally {
      Thread.sleep(1000)
      stop.set(true)
      readers.foreach(_.join(60000))
    }
    assert(result.incremental)
    assert(violations.isEmpty, violations.toArray.mkString("; "))
    // the previous generation served while the refresh ran
    assert(stale.get() >= 1 && stale.get() + fresh.get() >= 2 * queries.size,
      s"readers answered ${stale.get()} times stale, ${fresh.get()} times fresh")
    assert(answers(readerSession) == rawAfter, "served answers differ from raw after the refresh")
    CubeCatalog.unregister("refresh_race")
  }
}
