package olapbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Graft, Tables}
import graft.cube.{CubeCatalog, CubeRefresh, RollupBuild, RollupCube, RollupMeta, TpchCube}
import graft.sources.CubeSource

/** `bi_refresh`: BI dashboard reads on a cube built from nothing, then
  * append -> refresh -> read cycles. One client thread, closed loop; the
  * writer never runs while a reader does.
  *
  *  1. Set-up: generate a private star (sf 0.02, 24 months), materialize
  *     the flat cube and two lattice nodes under this run's own names.
  *  2. Untimed answer check: each of the 12 dashboard queries (one seeded
  *     parameter draw per template) against raw Spark without rewrites.
  *  3. Timed phase, `Cycles` times: reads for `seconds / Cycles` in whole
  *     rounds, each round the 12 queries in a seeded order, each planned
  *     once and executed through the same QueryExecution, every answer
  *     compared with raw Spark; then one refresh cycle: append a batch with
  *     rows in a new month and late rows in an old month, refresh, run three
  *     probes that must see the batch, and compare them (untimed) with raw
  *     Spark over freshly listed base tables.
  */
object CubeWorkload {

  /** Star scale factor and orders per half of a refresh batch. */
  final case class Size(scale: Double, batchOrders: Int)
  /** 120k lineitem rows; each refresh appends 2 x 75 orders x 4 lines. */
  val Full = Size(0.02, 75)
  /** Months of orders, from 1996-01. */
  val Months = 24
  /** Read windows, each followed by one refresh cycle. */
  val Cycles = 2

  private def dsum(e: String) = s"CAST(sum(CAST($e AS DECIMAL(28,6))) AS DOUBLE)"
  private val Loc = "lineitem JOIN orders ON l_orderkey = o_orderkey " +
    "JOIN customer ON o_custkey = c_custkey"
  private val Cn = " JOIN nation cn ON c_nationkey = cn.n_nationkey"
  private val Cr = " JOIN region cr ON cn.n_regionkey = cr.r_regionkey"
  private val Sn = " JOIN supplier ON l_suppkey = s_suppkey " +
    "JOIN nation sn ON s_nationkey = sn.n_nationkey"
  private val Pt = " JOIN part ON l_partkey = p_partkey"
  private val Rev = dsum("l_extendedprice * (1.0 - l_discount)")

  /** A dashboard query: template name, whether the engine should serve it
    * from the cube or lattice, and its SQL.
    */
  final case class Query(template: String, rewritable: Boolean, sql: String)

  private def month(m: Int): java.time.LocalDate =
    java.time.LocalDate.of(1970, 1, 1).plusMonths(m.toLong)
  private def ts(d: java.time.LocalDate) = s"TIMESTAMP '$d 00:00:00'"
  private def between(c: String, m0: Int, m1: Int) =
    s"$c >= ${ts(month(m0))} AND $c < ${ts(month(m1))}"

  /** The 12 dashboard panels: one seeded parameter draw per template. */
  def dashboard(rnd: java.util.SplittableRandom, g: StarGen): Seq[Query] = {
    val first = (1996 - 1970) * 12
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def nation() = s"NATION_${rnd.nextInt(25)}"
    def quarter() = { val m = first + rnd.nextInt(Months - 3); (m, m + 3) }
    def year() = { val y = first + 12 * rnd.nextInt(Months / 12); (y, y + 12) }
    val (q0, q1) = quarter()
    val (y0, y1) = year()
    val (a, b) = (nation(), nation())
    val topN = pick(Seq(5, 10, 20))
    Seq(
      Query("segment_flag_revenue", true,
        s"""SELECT c_mktsegment, l_returnflag, count(*) AS cnt,
           |  ${dsum("l_extendedprice")} AS revenue, ${dsum("l_quantity")} AS qty
           |FROM $Loc WHERE ${between("l_shipdate", q0, q1)}
           |GROUP BY c_mktsegment, l_returnflag ORDER BY 1, 2""".stripMargin),
      Query("supplier_nation_revenue", true,
        s"""SELECT sn.n_name AS s_nation, $Rev AS revenue
           |FROM $Loc$Sn WHERE c_mktsegment = '${pick(g.segments)}'
           |  AND ${between("l_shipdate", y0, y1)}
           |GROUP BY 1 ORDER BY 1""".stripMargin),
      Query("nation_pair_volume", true,
        s"""SELECT sn.n_name AS s_nation, cn.n_name AS c_nation,
           |  CAST(year(l_shipdate) AS INT) AS l_year, $Rev AS revenue
           |FROM $Loc$Cn$Sn
           |WHERE (sn.n_name = '$a' AND cn.n_name = '$b')
           |   OR (sn.n_name = '$b' AND cn.n_name = '$a')
           |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
      Query("distinct_customers", true,
        s"""SELECT c_mktsegment, count(DISTINCT o_custkey) AS customers
           |FROM $Loc WHERE ${between("l_shipdate", y0, y1)}
           |GROUP BY 1 ORDER BY 1""".stripMargin),
      Query("top_suppliers", true,
        s"""SELECT l_suppkey, count(*) AS cnt FROM $Loc
           |WHERE c_mktsegment = '${pick(g.segments)}'
           |GROUP BY l_suppkey ORDER BY cnt DESC, l_suppkey LIMIT $topN""".stripMargin),
      Query("top_suppliers_by_volume", true,
        s"""SELECT l_suppkey, ${dsum("l_extendedprice")} AS volume FROM $Loc
           |WHERE c_mktsegment = '${pick(g.segments)}'
           |GROUP BY l_suppkey ORDER BY volume DESC, l_suppkey LIMIT $topN""".stripMargin),
      Query("brand_by_nation", true,
        s"""SELECT p_brand, count(*) AS cnt, ${dsum("l_quantity")} AS qty
           |FROM $Loc$Cn$Pt WHERE cn.n_name = '${nation()}'
           |  AND p_type = '${pick(g.types)}' AND ${between("l_shipdate", y0, y1)}
           |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
      Query("region_market_by_order_date", true,
        s"""SELECT cr.r_name AS c_region, p_type, $Rev AS revenue
           |FROM $Loc$Cn$Cr$Pt WHERE cr.r_name = '${pick(g.regions)}'
           |  AND ${between("o_orderdate", q0, q1)}
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      Query("pricing_summary", true,
        s"""SELECT l_returnflag, l_linestatus, ${dsum("l_quantity")} AS sum_qty,
           |  ${dsum("l_extendedprice")} AS sum_price, count(*) AS cnt
           |FROM lineitem WHERE l_shipdate < ${ts(month(q1))}
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      Query("segment_discount", true,
        s"""SELECT c_mktsegment, l_returnflag, min(l_discount) AS min_disc,
           |  max(l_quantity) AS max_qty, count(*) AS cnt
           |FROM $Loc WHERE ${between("l_shipdate", q0, q1)}
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      Query("order_priority_mix", false,
        s"""SELECT o_orderpriority, count(*) AS orders, ${dsum("o_totalprice")} AS total
           |FROM orders WHERE ${between("o_orderdate", q0, q1)}
           |GROUP BY 1 ORDER BY 1""".stripMargin),
      Query("customer_balances", false,
        s"""SELECT c_mktsegment, count(*) AS customers, ${dsum("c_acctbal")} AS balance
           |FROM customer WHERE c_acctbal > ${rnd.nextInt(8000)}.0
           |GROUP BY 1 ORDER BY 1""".stripMargin))
  }

  /** Probes after a refresh: they read exactly the two months the batch
    * wrote, so a stale cube, node or file listing shows as a wrong answer.
    */
  def probes(newMonth: Int, lateMonth: Int): Seq[Query] = Seq(
    Query("probe_month_totals", true,
      s"""SELECT count(*) AS n, ${dsum("l_quantity")} AS qty FROM lineitem
         |WHERE ${between("l_shipdate", newMonth, newMonth + 1)}""".stripMargin),
    Query("probe_late_segments", true,
      s"""SELECT c_mktsegment, l_returnflag, count(*) AS cnt, ${dsum("l_extendedprice")} AS revenue
         |FROM $Loc WHERE ${between("l_shipdate", lateMonth, lateMonth + 1)}
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("probe_new_customers", true,
      s"""SELECT c_mktsegment, count(DISTINCT o_custkey) AS customers
         |FROM $Loc WHERE ${between("l_shipdate", newMonth, newMonth + 1)}
         |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Lattice nodes built for the dashboard: the TPC-H lattice's coarse
    * node and its sketch-carrying fine node.
    */
  def nodes(starDir: String, prefix: Path): Seq[(String, RollupMeta)] = Seq(
    "coarse" -> RollupCube.coarseMeta(starDir),
    "fine" -> RollupCube.meta(starDir))
    .map { case (n, m) => n -> m.copy(path = s"$prefix$n") }

  /** One timed query: plan once, execute through the same QueryExecution. */
  final case class Timed(rows: Array[Row], planMs: Double, totalMs: Double, df: DataFrame)

  def runQuery(ctx: Ctx, q: Query): Timed = {
    val t0 = System.nanoTime()
    val df = ctx.trace.span("graft.plans", "executedPlan") {
      val d = ctx.spark.sql(q.sql)
      d.queryExecution.executedPlan
      d
    }
    val t1 = System.nanoTime()
    val rows = ctx.trace.span("graft.cube.serve", "collect")(df.collect())
    val t2 = System.nanoTime()
    Timed(rows, (t1 - t0) / 1e6, (t2 - t0) / 1e6, df)
  }

  /** Temp views over the star; `fresh` lists the files again instead of
    * using the program's cached table frames (same schema, no inference).
    */
  def views(spark: SparkSession, starDir: String, fresh: Boolean): Unit =
    Tables.starTables.foreach { t =>
      val cached = Tables.t(spark, starDir, t)
      val df = if (fresh) spark.read.schema(cached.schema).parquet(Tables.path(starDir, t)) else cached
      df.createOrReplaceTempView(t)
    }

  /** The answers raw Spark gives: no rewrites, freshly listed files. */
  def rawAnswers(spark: SparkSession, starDir: String, qs: Seq[Query]): Seq[Array[Row]] = {
    views(spark, starDir, fresh = true)
    try Graft.withoutRewrites(spark)(qs.map(q => spark.sql(q.sql).collect()))
    finally views(spark, starDir, fresh = false)
  }

  def run(ctx: Ctx, size: Size): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val trace = ctx.trace
    val rnd = new java.util.SplittableRandom(ctx.seed)
    val star = ctx.runDir.resolve(s"star_${ctx.runId}")
    val starDir = star.toString
    val prefix = ctx.cubeRoot.resolve(s"olapbench_${ctx.runId}_")
    val cubeName = s"olapbench_${ctx.runId}"
    Files.createDirectories(ctx.cubeRoot)
    def ownDirs(): Seq[Path] = Files.list(ctx.cubeRoot).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith(prefix.getFileName.toString)).sortBy(_.toString)
    require(ownDirs().isEmpty, s"cube directories for $cubeName already exist under ${ctx.cubeRoot}")

    // ---- set-up: session (already up), inputs, cube, lattice -------------
    val gen = new StarGen(spark, ctx.seed, size.scale, Months)
    val tGen = System.nanoTime()
    gen.writeStar(starDir)
    val tCube = System.nanoTime()
    val tablePaths = TpchCube.roleOfTable.keys.map(t => t -> Tables.path(starDir, t)).toMap
    trace.span("graft.cube.build", "CubeSource.materialize") {
      CubeSource.materialize(spark, TpchCube.info.copy(name = cubeName), tablePaths, s"${prefix}flat")
    }
    val tLattice = System.nanoTime()
    val lattice = nodes(starDir, prefix)
    lattice.foreach { case (n, m) =>
      trace.span("graft.cube.build", s"RollupBuild.materialize:$n")(RollupBuild.materialize(spark, cubeName, m))
    }
    val tDone = System.nanoTime()
    val setupS = (System.currentTimeMillis() - ctx.jvmStartMs) / 1e3
    views(spark, starDir, fresh = false)
    val inputBytes0 = Stats.treeBytes(star)
    val cubeBytes = Stats.uniqueInodeBytes(Seq(Paths.get(s"${prefix}flat")))
    val latticeBytes = Stats.uniqueInodeBytes(lattice.map(l => Paths.get(l._2.path)))
    r.say(f"set-up: gen ${(tCube - tGen) / 1e9}%.2f s, cube ${(tLattice - tCube) / 1e9}%.2f s, " +
      f"lattice ${(tDone - tLattice) / 1e9}%.2f s (${lattice.size} nodes); star " +
      f"${gen.nOrders * gen.linesPerOrder} lineitem rows, $inputBytes0 bytes")

    // ---- untimed answer check (also fills lazy caches) --------------------
    val tCheck = System.nanoTime()
    val panels = dashboard(rnd, gen)
    val served0 = panels.map(q => runQuery(ctx, q).rows)
    val raw0 = rawAnswers(spark, starDir, panels)
    raw0.zip(panels).zip(served0).foreach { case ((raw, q), served) =>
      r.check(Stats.sameAnswer(served, raw), s"${q.template}: served answer differs from raw Spark\n${q.sql}")
    }
    r.say(f"answer check of ${panels.size} panels: ${(System.nanoTime() - tCheck) / 1e9}%.2f s")

    // ---- timed phase: Cycles x (reads, refresh cycle) ----------------------
    val reads = scala.collection.mutable.ArrayBuffer.empty[(Int, Timed)]
    val seen = Array.fill(panels.size)(0)
    var readWallS = 0.0
    val jvmReads = Array(0.0, 0.0, 0.0)
    val fires = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)

    /** Reads for `seconds` in whole rounds, so every run reads each panel
      * equally often; each answer is compared with `want`.
      */
    def readWindow(seconds: Double, want: Seq[Array[Row]]): Unit = {
      val fires0 = graft.plans.RewriteStats.snapshot.toMap
      val window = scala.collection.mutable.ArrayBuffer.empty[(Int, Timed)]
      val jvm0 = Stats.jvmMs()
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < seconds) shuffled(rnd, panels.indices).foreach { i =>
        // in a traced run every other read of each panel runs untraced
        trace.recording = seen(i) % 2 == 0
        seen(i) += 1
        window += i -> trace.span("op", s"read:${panels(i).template}")(runQuery(ctx, panels(i)))
      }
      trace.recording = true
      readWallS += (System.nanoTime() - t0) / 1e9
      val jvm1 = Stats.jvmMs()
      jvmReads(0) += jvm1._1 - jvm0._1; jvmReads(1) += jvm1._2 - jvm0._2; jvmReads(2) += jvm1._3 - jvm0._3
      graft.plans.RewriteStats.snapshot.foreach { case (k, v) => fires(k) += v - fires0.getOrElse(k, 0L) }
      window.foreach { case (i, t) =>
        r.check(Stats.sameAnswer(t.rows, want(i)), s"${panels(i).template}: timed answer differs from raw Spark")
      }
      reads ++= window
    }

    val firstMonth = (1996 - 1970) * 12
    var nextKey = gen.nOrders
    var newMonth = firstMonth + Months + 5 // after the last ship month
    val cycles = scala.collection.mutable.ArrayBuffer.empty[Cycle]

    /** Append a batch with rows in a new month and late rows in an old one,
      * refresh, and run probes that must see the batch.
      */
    def refreshCycle(): Unit = {
      // an inner month: its bucket is full, so every refresh rewrites alike
      val lateMonth = firstMonth + 4 + rnd.nextInt(Months - 8)
      val before = Stats.treeBytes(star)
      gen.appendBatch(starDir, nextKey, size.batchOrders, Seq(newMonth, lateMonth))
      nextKey += 2 * size.batchOrders
      val appended = Stats.treeBytes(star) - before
      // the program's contract after base files change: drop cached frames
      Tables.invalidateCache()
      views(spark, starDir, fresh = false)
      val tR = System.nanoTime()
      var result: CubeRefresh.Result = null
      trace.span("op", "refresh") {
        trace.span("graft.cube.refresh", "CubeRefresh.refresh") {
          result = CubeRefresh.refresh(spark, CubeCatalog.get(cubeName).get,
            Tables.flat(spark, starDir))
        }
      }
      val tP = System.nanoTime()
      val ps = probes(newMonth, lateMonth)
      val probeRuns = ps.map(q => trace.span("op", s"probe:${q.template}")(runQuery(ctx, q)))
      val tE = System.nanoTime()
      rawAnswers(spark, starDir, ps).zip(ps).zip(probeRuns).foreach { case ((raw, q), t) =>
        r.check(Stats.sameAnswer(t.rows, raw),
          s"${q.template} after refresh: answer differs from raw Spark over fresh listings\n${q.sql}")
      }
      val newRows = probeRuns.head.rows.head.getLong(0)
      val want = size.batchOrders * gen.linesPerOrder
      r.check(newRows == want, s"probe_month_totals sees $newRows rows of the new month, expected $want")
      cycles += Cycle((tP - tR) / 1e9, probeRuns.map(_.totalMs), (tE - tR) / 1e9,
        result.dirtyBuckets.size, result.cubeRowsWritten, appended)
      newMonth += 1
    }

    // reads and refreshes alternate, so both are measured at several points
    // of the run; after a refresh the panels' answers are taken again from
    // raw Spark over freshly listed files (untimed)
    val tTimed = System.nanoTime()
    for (c <- 0 until Cycles) {
      readWindow(ctx.seconds / Cycles, if (c == 0) raw0 else rawAnswers(spark, starDir, panels))
      refreshCycle()
    }
    r.say(f"timed phase ${(System.nanoTime() - tTimed) / 1e9}%.2f s, of it reads $readWallS%.2f s and refresh " +
      f"cycles ${cycles.map(_.freshS).sum}%.2f s")
    r.say(f"reads used cpu ${jvmReads(0) / 1e3}%.2f s, gc ${jvmReads(1) / 1e3}%.2f s, " +
      f"jit ${jvmReads(2) / 1e3}%.2f s in $readWallS%.2f s wall")
    trace.drain()

    // ---- storage (all live generations, hard links counted once) ---------
    val live = ownDirs()
    val storageRatio = Stats.uniqueInodeBytes(live) / Stats.treeBytes(star).toDouble
    val naiveRatio = live.map(Stats.treeBytesNaive).sum / Stats.treeBytes(star).toDouble

    // ---- report -----------------------------------------------------------
    val readMs = reads.map(_._2.totalMs).toSeq
    val probeMs = cycles.flatMap(_.probeMs).toSeq
    val refreshS = cycles.map(_.refreshS).toSeq
    r.say(s"reads: ${reads.size} queries in ${"%.2f".format(readWallS)} s over ${panels.size} panels " +
      s"(${panels.count(!_.rewritable)} not rewritable); refresh cycles: ${cycles.size}; " +
      s"dirty buckets per refresh: ${cycles.map(_.dirty).mkString(",")}")
    r.say("read median per panel, ms: " + reads.groupBy(_._1).toSeq.sortBy(_._1).map { case (i, ts) =>
      f"${panels(i).template} ${Stats.median(ts.map(_._2.totalMs).toSeq)}%.0f (n=${ts.size})" }.mkString(", "))
    r.say(f"storage: live cube+lattice bytes by unique inode / star bytes = $storageRatio%.3f " +
      f"(counting every generation's links separately: $naiveRatio%.3f)")
    if (!trace.enabled) {
      r.metric("setup_s", setupS, "s", "JVM + session + star + cube + lattice, n=1")
      r.metric("query_p50_ms", Stats.median(readMs), "ms", s"dashboard reads, n=${readMs.size}")
      Stats.tailPct(readMs.size) match {
        case Some(p) if p >= 0.9 => r.say(f"query_p${(p * 100).round}%d_ms ${Stats.pct(readMs, p)}%.4f ms (n=${readMs.size})")
        case other => r.say(s"query_p90_ms not reported: n=${readMs.size} reads, a p90 needs 100" +
          other.map(p => f"; highest with 10 beyond: p${(p * 100).round}%d = ${Stats.pct(readMs, p)}%.4f ms").getOrElse(""))
      }
      r.say(f"queries_per_s ${reads.size / readWallS}%.4f 1/s (closed loop, 1 client)")
      r.say(f"refresh_p50_s ${Stats.median(refreshS)}%.4f s (n=${refreshS.size}); " +
        f"post-refresh query_p50_ms ${Stats.median(probeMs)}%.4f ms (n=${probeMs.size})")
      r.metric("throughput_per_s", reads.size / readWallS, "1/s", s"dashboard queries, n=${reads.size}")
      r.metric("freshness_s", Stats.median(cycles.map(_.freshS).toSeq), "s",
        s"refresh + probe reads per cycle, n=${cycles.size}")
      r.metric("storage_bytes_per_input_byte", storageRatio, "ratio", "unique inodes")
    } else {
      layerMetrics(ctx, reads.toSeq.map { case (i, t) => (panels(i), t) }, fires.toSeq, cycles.toSeq,
        (tLattice - tCube) / 1e9, (tDone - tLattice) / 1e9, cubeBytes, latticeBytes, live.size,
        prefix)
    }

    // ---- clean up: every cube, node and generation directory of this run -
    Tables.invalidateCache()
    CubeCatalog.unregister(cubeName)
    live.foreach(deleteTree)
    r.check(ownDirs().isEmpty, s"cube directories of $cubeName left under ${ctx.cubeRoot}")
  }

  final case class Cycle(refreshS: Double, probeMs: Seq[Double], freshS: Double,
                         dirty: Int, cubeRows: Long, appendedBytes: Long)

  private def shuffled(rnd: java.util.SplittableRandom, xs: Seq[Int]): Seq[Int] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val it = Files.list(p)
      try it.iterator().asScala.toSeq.foreach(deleteTree) finally it.close()
    }
    Files.delete(p)
  }

  private def layerMetrics(ctx: Ctx, reads: Seq[(Query, Timed)], fires: Seq[(String, Long)],
                           cycles: Seq[Cycle], cubeS: Double, latticeS: Double,
                           cubeBytes: Long, latticeBytes: Long, liveDirs: Int,
                           prefix: Path): Unit = {
    val r = ctx.report
    val trace = ctx.trace
    val n = reads.size.toDouble
    val p = prefix.toString
    def route(df: DataFrame): String = {
      val roots = org.apache.spark.sql.graft.ScanBytes.scans(df)
        .flatMap(_.relation.location.rootPaths.map(_.toUri.getPath))
      if (roots.exists(!_.startsWith(p))) "raw"
      else if (roots.exists(_.startsWith(p + "flat"))) "cube"
      else "rollup"
    }
    val routes = reads.map { case (_, t) => route(t.df) }
    val rewritable = reads.filter(_._1.rewritable)
    val readOps = trace.of("op").filter(_.name.startsWith("read:"))
    val readExec = readOps.map(trace.execUnder)
    val refreshExec = trace.of("op", "refresh").map(trace.execUnder)
    r.metric("plans.plan_ms_p50", Stats.median(reads.map(_._2.planMs)), "ms", s"n=${reads.size}")
    r.metric("plans.rewrite_fires_per_query", fires.map(_._2).sum / n, "count", s"n=${reads.size}")
    fires.foreach { case (k, v) =>
      if (Metrics.rules.contains(k)) r.metric(s"plans.fires.$k", v / n, "count")
      else r.say(s"rule $k fired ${v / n} times per query (not a contract metric)")
    }
    r.metric("plans.rewritten_share",
      rewritable.count { case (_, t) => route(t.df) != "raw" } / rewritable.size.toDouble, "ratio",
      s"of ${rewritable.size} rewritable reads")
    r.metric("serve.exec_ms_p50", Stats.median(reads.map(t => t._2.totalMs - t._2.planMs)), "ms",
      s"n=${reads.size}")
    r.metric("serve.rollup_share", routes.count(_ == "rollup") / n, "ratio")
    r.metric("serve.cube_share", routes.count(_ == "cube") / n, "ratio")
    r.metric("serve.raw_share", routes.count(_ == "raw") / n, "ratio")
    val nTraced = readOps.size.toDouble
    r.metric("serve.rows_scanned_per_query", readExec.map(_.recordsRead).sum / nTraced, "count",
      s"traced reads n=${readOps.size}")
    r.metric("serve.bytes_scanned_per_query",
      reads.map(t => org.apache.spark.sql.graft.ScanBytes.of(t._2.df)).sum / n, "B")
    r.metric("build.cube_s", cubeS, "s")
    r.metric("build.lattice_s", latticeS, "s")
    r.metric("build.cube_bytes", cubeBytes.toDouble, "B")
    r.metric("build.lattice_bytes", latticeBytes.toDouble, "B")
    val nc = cycles.size.toDouble
    r.metric("refresh.dirty_buckets", cycles.map(_.dirty).sum / nc, "count", s"per refresh, n=${cycles.size}")
    r.metric("refresh.cube_rows_written", cycles.map(_.cubeRows).sum / nc, "count", "per refresh")
    r.metric("refresh.bytes_written_per_appended_byte",
      refreshExec.map(_.bytesWritten).sum.toDouble / cycles.map(_.appendedBytes).sum, "ratio")
    r.metric("refresh.spark_jobs", refreshExec.map(_.jobs).sum / nc, "count", "per refresh")
    r.metric("refresh.live_generations", liveDirs.toDouble, "count", "cube + node directories on disk")
    val ops = readExec ++ refreshExec
    r.metric("exec.stages_per_op", ops.map(_.stages).sum / ops.size.toDouble, "count")
    r.metric("exec.tasks_per_op", ops.map(_.tasks).sum / ops.size.toDouble, "count",
      s"reads ${readExec.map(_.tasks).sum / nTraced}, refreshes ${refreshExec.map(_.tasks).sum / nc}")
    r.metric("exec.executor_cpu_s_per_op", ops.map(_.cpuNs).sum / 1e9 / ops.size, "s")
    r.metric("exec.gc_s_per_op", ops.map(_.gcMs).sum / 1e3 / ops.size, "s")
    r.metric("exec.shuffle_bytes_per_op", ops.map(_.shuffleBytes).sum.toDouble / ops.size, "B")
    val byPanel = reads.groupBy(_._1.template).values.toSeq.map { rs =>
      val (on, off) = rs.zipWithIndex.partition(_._2 % 2 == 0)
      (on.map(_._1._2.totalMs), off.map(_._1._2.totalMs))
    }
    r.metric("trace.overhead_pct", Stats.overheadPct(byPanel), "%",
      s"traced vs untraced reads of the same panel, ${byPanel.count(_._2.nonEmpty)} panels")
  }
}
