package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

import graft.plans.{PercentileRewrite, RollupRouting, StarJoinElimination, SumOfLiteralRewrite, TimeBucketPruning}

/** Engine installation: inject the cube-rewrite rules into a session.
  *
  * Two paths, mirroring the reference's module loader
  * (`SparklineDataModule.scala:32-150`) with the modern API:
  *   - [[GraftExtensions]] for `SparkSession.builder.withExtensions` /
  *     `spark.sql.extensions` (the supported Spark 3/4 plugin mechanism);
  *   - [[Graft.install]] for post-hoc injection into an existing session via
  *     `experimental.extraOptimizations` (what `Verify` and the
  *     benchmark's sessions use).
  */
object Graft {

  /** Debug report for a SQL text: whether the engine rewrote it onto a
    * registered cube, plus the optimized and physical plans — the
    * equivalent of the reference's `EXPLAIN DRUID REWRITE <sql>` command
    * (`SparklineDataParser.scala:121-124`,
    * `commands/DruidMetadataCommands.scala:49-77`), exposed as an API
    * instead of a parser extension.
    */
  def explainRewrite(spark: SparkSession, sql: String): String = {
    val qe = spark.sql(sql)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val cubeScans = qe.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            val path = fs.location.rootPaths.headOption
              .map(p => graft.cube.CubeCatalog.normalizePath(p.toString))
            graft.cube.CubeCatalog.all.collectFirst {
              case c if path.contains(graft.cube.CubeCatalog.normalizePath(c.cubePath)) =>
                c.info.name
              case c if c.rollups.exists(r =>
                  path.contains(graft.cube.CubeCatalog.normalizePath(r.path))) =>
                val node = c.rollups.find(r =>
                  path.contains(graft.cube.CubeCatalog.normalizePath(r.path))).get
                val nodeName = node.path.split('/').last
                s"${c.info.name} (rollup node $nodeName: ${node.dims.mkString(",")} x ${node.grain})"
            }
          case _ => None
        }
    }.flatten
    val joins = qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.size
    s"""== Cube Rewrite ==
       |cube scans: ${if (cubeScans.isEmpty) "NONE (vanilla Spark plan)"
                      else cubeScans.mkString(", ")}
       |remaining joins: $joins
       |== Optimized Logical Plan ==
       |${qe.optimizedPlan.treeString}
       |== Physical Plan ==
       |${qe.executedPlan.treeString}""".stripMargin
  }

  /** Metadata view of a registered cube: one row per cube column with its
    * role, NDV estimate, and rollup merge column (if the pre-aggregated
    * rollup preserves it) — the reference's metadata views
    * (`DruidMetadataViews`, `SPLSessionCatalog.lookupRelation`) as an API.
    */
  /** (column, role, ndv, rollup-merge descriptor) rows of one cube —
    * shared by `DESCRIBE GRAFT CUBE` and the `graft_columns` view so the
    * two surfaces can never drift apart.
    */
  private def columnRows(cube: graft.cube.RegisteredCube)
      : Seq[(String, String, Long, String)] = {
    val ru = cube.rollup
    cube.info.columns.sortBy(_.name).map { c =>
      val role = c.role.toString
      val merge = ru.flatMap { r =>
        if (r.dims.contains(c.name)) Some("group")
        else r.sums.get(c.name).map(s => s"sum:$s")
      }
      // measured lag of a declared time-correlated column, in days — the
      // bound correlation pruning derives implied time intervals from
      val lag = cube.info.timeLagBounds.get(c.name).map { case (lo, hi) =>
        val d = 86400000000L
        s"lag[${lo / d}d,${hi / d}d]"
      }
      (c.name, role, c.cardinality.getOrElse(-1L),
        (merge.toSeq ++ lag.toSeq).mkString(" "))
    }
  }

  def describeCube(spark: SparkSession, name: String): org.apache.spark.sql.DataFrame = {
    val cube = graft.cube.CubeCatalog.get(name)
      .getOrElse(throw new IllegalArgumentException(s"no cube named $name; " +
        s"registered: ${graft.cube.CubeCatalog.all.map(_.info.name).mkString(",")}"))
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    columnRows(cube).toDF("column", "role", "ndv", "rollup")
  }

  /** Queryable metadata relations — the reference exposes its datasource /
    * star-schema metadata as DataFrame views a BI tool can SELECT and join
    * (`metadata/DruidMetadataViews.scala`, `StarSchemaMetadataTest.scala`).
    * Registers/refreshes three temp views snapshotting the catalog:
    *
    *   - `graft_cubes(cube, fact_table, time_column, time_bucket_column,
    *      path, max_result_cardinality, day_quantized, n_rollups)`
    *   - `graft_columns(cube, column, role, ndv, rollup)` — same rows as
    *      `DESCRIBE GRAFT CUBE`
    *   - `graft_rollups(cube, ordinal, path, dims, grain,
    *      time_bucket_column, time_column, count_column, n_sums, sketches,
    *      partition_dims, cluster_dims, total_rows, stored_files,
    *      stored_rows, stored_bytes)` — the stored_* columns are the
    *      footer-measured node sizes the cost-priced router compares
    *   - `graft_query_history(id, at, action, served, duration_ms,
    *      scan_files, scan_rows, scan_bytes, plan_head)` — executed-query
    *      log with the footer-measured IO of each executed plan
    *      ([[graft.plans.QueryHistory]]; the reference's
    *      `DruidQueryHistory` + `DruidQueryExecutionMetric` introspection)
    *   - `graft_artifacts(kind, path, stored_files, stored_rows,
    *      stored_bytes, pending_tombstones, max_files_per_bucket,
    *      buckets, hot_bucket_share)` — registered pipeline artifacts
    *      (IVF stores, pair indexes, span stores) with footer-measured
    *      stored size; the last four are IVF maintenance pressure (−1
    *      for other kinds), the numbers `ADVISE GRAFT MAINTENANCE`
    *      thresholds on
    *
    * Snapshot semantics (as in the reference): re-run after registering
    * new cubes — `REGISTER GRAFT VIEWS` is the SQL surface for that.
    */
  def registerMetadataViews(spark: SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val cubes = graft.cube.CubeCatalog.all.sortBy(_.info.name)
    cubes.map { c =>
      (c.info.name, c.info.starSchema.factTable, c.info.timeColumn,
        c.info.timeBucketColumn, c.cubePath, c.info.maxResultCardinality,
        c.info.timeDayQuantized, c.rollups.size)
    }.toDF("cube", "fact_table", "time_column", "time_bucket_column",
        "path", "max_result_cardinality", "day_quantized", "n_rollups")
      .createOrReplaceTempView("graft_cubes")
    cubes.flatMap { c =>
      columnRows(c).map { case (col, role, ndv, ru) =>
        (c.info.name, col, role, ndv, ru)
      }
    }.toDF("cube", "column", "role", "ndv", "rollup")
      .createOrReplaceTempView("graft_columns")
    cubes.flatMap { c =>
      c.rollups.zipWithIndex.map { case (r, i) =>
        // footer-measured stored size — the number the router prices this
        // node at (ScanBytes.dirCost, memoized); 0s = unmeasurable path.
        // Capped: a metadata view must never cost O(files) footer reads
        val (sFiles, sRows, sBytes) =
          org.apache.spark.sql.graft.ScanBytes.dirCost(spark, r.path,
            footerCap = 64)
        (c.info.name, i, r.path, r.dims.mkString(","), r.grain,
          r.timeBucketColumn, r.timeColumn.getOrElse(c.info.timeColumn),
          r.countColumn, r.sums.size,
          (r.kmvSketches.keys ++ r.hllSketches.keys ++
            r.quantileSketches.keys ++ r.freqSketches.keys)
            .toSeq.distinct.sorted.mkString(","),
          r.partitionDims.mkString(","), r.clusterDims.mkString(","),
          r.totalRows.getOrElse(-1L), sFiles, sRows, sBytes)
      }
    }.toDF("cube", "ordinal", "path", "dims", "grain", "time_bucket_column",
        "time_column", "count_column", "n_sums", "sketches",
        "partition_dims", "cluster_dims", "total_rows",
        "stored_files", "stored_rows", "stored_bytes")
      .createOrReplaceTempView("graft_rollups")
    graft.plans.QueryHistory.snapshot.map { e =>
      (e.id, new java.sql.Timestamp(e.atMs), e.action, e.served,
        e.durationMs, e.scanFiles, e.scanRows, e.scanBytes, e.planHead)
    }.toDF("id", "at", "action", "served", "duration_ms",
        "scan_files", "scan_rows", "scan_bytes", "plan_head")
      .createOrReplaceTempView("graft_query_history")
    // materialized pipeline artifacts (IVF stores, pair indexes, span
    // stores) with their footer-measured stored size — the pipeline
    // half's counterpart of graft_rollups' stored_* columns
    graft.plans.QueryHistory.artifactsSnapshot.map { case (kind, path) =>
      // capped like the rollup rows above: a 100k-file pair index must
      // not cost 100k driver footer opens to appear in a view. Sizes are
      // measured over the seam snapshot's DATA paths — a manifest
      // store's raw root also holds the grace generation and pending
      // tombstone segments, which are not stored data (r17 review); the
      // per-segment dirCost cache stays valid because published segments
      // are immutable
      val snap =
        // NonFatal, not just IllegalStateException: any one row's
        // driver-side I/O failure (unreadable sidecar/manifest) must
        // degrade THAT row to the raw-path size fallback, never abort
        // the whole metadata-view registration (r18 ADVICE)
        try Some(graft.operators.ArtifactStore.forPath(spark, path)
          .snapshot(spark, path))
        catch { case scala.util.control.NonFatal(t) =>
          graft.operators.ArtifactStore.warnDegraded(path, t); None
        }
      val (files, rows, bytes) = snap.map(_.dataPaths).getOrElse(Seq(path))
        .map(dp => org.apache.spark.sql.graft.ScanBytes.dirCost(spark, dp,
          footerCap = 64))
        .foldLeft((0L, 0L, 0L)) { case ((f, r, b), (f2, r2, b2)) =>
          (f + f2, r + r2, b + b2)
        }
      // maintenance-pressure columns (IVF stores only; -1 elsewhere):
      // pending tombstone rows and max append files in any one bucket —
      // the numbers ADVISE GRAFT MAINTENANCE thresholds on, surfaced in
      // the view so an operator can watch them approach the cap instead
      // of meeting it as a require-failure (r15 verdict item 3)
      val (pending, maxFiles, buckets, hotShare) =
        if (kind == "ivf")
          graft.operators.Similarity.maintenancePressure(spark, path,
            resolved = snap)
        else (-1L, -1, -1, -1.0)
      (kind, path, files, rows, bytes, pending, maxFiles, buckets, hotShare)
    }.toDF("kind", "path", "stored_files", "stored_rows", "stored_bytes",
        "pending_tombstones", "max_files_per_bucket", "buckets",
        "hot_bucket_share")
      .createOrReplaceTempView("graft_artifacts")
  }

  /** Workload-driven lattice design: analyze a set of SQL texts against a
    * registered cube and return the Pareto-front rollup recommendations
    * ([[graft.cube.RollupAdvisor]]).
    */
  def recommendRollups(spark: SparkSession, cubeName: String,
                       workload: Seq[String]): Seq[graft.cube.RollupAdvisor.Recommendation] = {
    val cube = graft.cube.CubeCatalog.get(cubeName)
      .getOrElse(throw new IllegalArgumentException(s"no cube named $cubeName"))
    graft.cube.RollupAdvisor.recommend(spark, cube, workload)
  }

  /** The engine's MATERIALIZED time semantics are UTC (like Druid
    * segments; the reference pins a zone via `spark.sparklinedata.tz.id`,
    * `DruidPlanner.scala:73-76`): `g_tbucket`/`g_dbucket` are computed
    * with UTC-fixed arithmetic at build
    * ([[graft.cube.TpchCube.bucketExpr]]), matching the pruning side
    * ([[graft.cube.TpchCube.bucketOfMicros]]) under ANY session time zone.
    * The USER's session zone is never overridden: instant-based interval
    * pruning stays active in every zone, while session-TZ-dependent
    * translations (serving `year()/month()/date_trunc` groupings or
    * cast-to-date predicates from bucket columns) are gated on
    * [[sessionIsUtc]] and fall back to raw evaluation elsewhere.
    */
  def forceUtc(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.session.timeZone", "UTC")

  /** True when the session time zone denotes UTC — the precondition for
    * serving calendar-valued time expressions from UTC bucket numbers.
    */
  def sessionIsUtc(spark: SparkSession): Boolean = {
    val id = spark.sessionState.conf.sessionLocalTimeZone
    try java.time.ZoneId.of(id).normalized() == java.time.ZoneOffset.UTC
    catch { case _: java.time.DateTimeException => false }
  }

  /** Run `body` with every graft rewrite disabled. The engine's OWN
    * maintenance reads (dirty-bucket detection, NDV/totalRows proof
    * measurement, refresh row counts) must see the raw data, never a
    * rewrite onto the possibly-stale cube/rollup they are maintaining —
    * e.g. a dirty-bucket count routed onto the stale cube would compare
    * the cube against itself and find nothing to refresh.
    */
  def withoutRewrites[T](spark: SparkSession)(body: => T): T = {
    val flags = Seq("spark.graft.starJoin.enabled",
      "spark.graft.rollupRouting.enabled",
      "spark.graft.timeBucketPruning.enabled",
      "spark.graft.distinctFromSketch.enabled",
      "spark.graft.percentileFromSketch.enabled",
      "spark.graft.topNFromSketch.enabled")
    val prev = flags.map(f => f -> spark.conf.get(f, "true"))
    flags.foreach(spark.conf.set(_, "false"))
    try body finally prev.foreach { case (f, v) => spark.conf.set(f, v) }
  }

  /** Disable `InferFiltersFromGenerate` for engine sessions: the rule
    * infers `size(child) > 0 AND isnotnull(child)` under every explode and
    * predicate pushdown then substitutes the generator's child expression
    * into both conjuncts — evaluating it three times per row. That is a
    * win only when the child is a cheap attribute and empty arrays are
    * common; the text pipeline's generators feed from single-pass native
    * expressions (shingle sets, minhash signatures, tokenizers) where the
    * tripled evaluation dominates the whole query (measured 2.1s -> 1.0s
    * on the n-gram dedup at bench scale), and an empty shingle set
    * generates zero rows through the explode anyway.
    */
  private[graft] def excludeGenerateFilterInference(spark: SparkSession): Unit = {
    val key = "spark.sql.optimizer.excludedRules"
    val rule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    val cur = spark.conf.getOption(key).getOrElse("")
    if (!cur.split(",").map(_.trim).contains(rule))
      spark.conf.set(key, if (cur.isEmpty) rule else s"$cur,$rule")
  }

  /** The one storage root of everything the engine materializes for its
    * own queries: `target` under the working directory. Cubes and lattice
    * nodes go under `cubes/`, indexes under `indexes/`.
    */
  def targetDir: String = new java.io.File(sys.props("user.dir"), "target").getPath

  /** Spark scratch dir (`spark.local.dir`) for long-running driver mains
    * (Verify). NOT /tmp: a box-level /tmp sweeper
    * deleted a >13-minute run's block-manager tree mid-job (observed r16 —
    * FileNotFoundException on shuffle index files). Default is RAM-backed
    * scratch (`/dev/shm`) when present: at bench scale the live shuffle
    * footprint is MBs while the per-exchange cost is dominated by scratch-
    * file create/fsync latency (measured: a 32x32 exchange of 215k longs
    * 0.47 s on ext4 vs 0.25 s on tmpfs, r20). Deployments whose shuffle
    * spill exceeds RAM must point `SPARK_GRAFT_LOCAL_DIR` at fast disk —
    * the standard `spark.local.dir` sizing call, parameterised, not a
    * local-mode constant (guide §2.1: local disk bandwidth for shuffle
    * files can be the tighter limit).
    */
  def sparkLocalDir: String =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").getOrElse {
      val diskDefault = new java.io.File(targetDir, "spark-local").getPath
      val shm = new java.io.File("/dev/shm")
      if (!shm.isDirectory || !shm.canWrite) diskDefault
      else {
        val root = new java.io.File(shm, "graft-spark-local")
        // crashed runs leave blockmgr-*/spark-* trees in tmpfs that no OS
        // sweeper reclaims (r20 ADVICE): reap subtrees untouched for 12h+
        // whose owning process is gone. Each JVM scratches in its own
        // owner-stamped directory, so a live session's blocks survive
        // however long ago they were written (reads do not bump mtimes).
        sweepStale(root, maxAgeMs = 12L * 3600 * 1000)
        // larger-than-RAM spill must degrade to disk, not OOM the box:
        // keep tmpfs only while it has headroom
        val minFree = sys.env.getOrElse("SPARK_GRAFT_SHM_MIN_FREE_GB", "8")
          .toLong * (1L << 30)
        if (shm.getUsableSpace >= minFree) ownedDir(root).getPath else diskDefault
      }
    }

  /** Owner sentinel of a scratch directory: `<pid> <process start ms>`. */
  private[graft] val OwnerFile = "_graft_owner"

  private def startMs(p: ProcessHandle): Long =
    p.info.startInstant.map[Long](_.toEpochMilli).orElse(-1L)

  /** This JVM's scratch directory under `root`, stamped with its owner. */
  private[graft] def ownedDir(root: java.io.File): java.io.File = {
    val me = ProcessHandle.current()
    val dir = new java.io.File(root, s"jvm-${me.pid}")
    dir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(dir, OwnerFile).toPath,
      s"${me.pid} ${startMs(me)}")
    dir
  }

  /** `dir` carries a sentinel naming a running process: same pid AND same
    * start time, so a recycled pid does not keep a dead run's scratch.
    */
  private[graft] def ownerAlive(dir: java.io.File): Boolean =
    try {
      val Array(pid, start) = java.nio.file.Files.readString(
        new java.io.File(dir, OwnerFile).toPath).trim.split(" ")
      val h = ProcessHandle.of(pid.toLong)
      h.isPresent && h.get.isAlive && startMs(h.get) == start.toLong
    } catch { case _: Exception => false }

  /** Best-effort removal of `root` subtrees whose every entry is older
    * than `maxAgeMs` and that no live process owns (stale scratch from
    * crashed runs). Never throws.
    */
  private[graft] def sweepStale(root: java.io.File, maxAgeMs: Long): Unit =
    try {
      val cutoff = System.currentTimeMillis() - maxAgeMs
      def newestMtime(f: java.io.File): Long = {
        val self = f.lastModified()
        val kids = Option(f.listFiles()).getOrElse(Array.empty)
        kids.foldLeft(self)((m, k) => math.max(m, newestMtime(k)))
      }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(d => !ownerAlive(d) && newestMtime(d) < cutoff)
        .foreach(rm)
    } catch { case _: Throwable => () }

  /** Shuffle-writer selection knob for the driver mains
    * (`spark.shuffle.sort.bypassMergeThreshold`), measured both ways on
    * the full 153-query suite at sf0.1 (r20): forcing the sort-based
    * writer (threshold 0) wins ~0.1-0.2 s on every tiny-shuffle query
    * (1024 bypass scratch files per 32x32 exchange become 32) but loses
    * 0.3-0.9 s on large-record / bulk-row shuffles (sketch partials,
    * sort-merge inputs: the sorter's extra copy), netting 45.9 s vs
    * 42.3 s for the default — so the DEFAULT stays Spark's 200, and the
    * measurement lives here with the env override for deployments whose
    * shuffle mix differs.
    */
  def shuffleWriterThreshold: String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_BYPASS_THRESHOLD", "200")

  def install(spark: SparkSession): Unit = {
    // engine-written parquet (cube extracts, lattice nodes) must carry
    // INT64 micros timestamps: the INT96 default has no usable row-group
    // min/max statistics and no filter pushdown, which would silently
    // disable every footer time-skip on materialized layouts.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    excludeGenerateFilterInference(spark)
    graft.plans.QueryHistory.install(spark)
    graft.functions.DateTimeCompat.register(spark)
    org.apache.spark.sql.graft.KmvSketch.register(spark)
    org.apache.spark.sql.graft.QuantileSketch.register(spark)
    org.apache.spark.sql.graft.FreqSketch.register(spark)
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val existing = classic.experimental.extraOptimizations
    val mine = Seq(StarJoinElimination(spark), TimeBucketPruning(spark),
        SumOfLiteralRewrite, RollupRouting(spark), PercentileRewrite)
      .filterNot(r => existing.exists(_.getClass == r.getClass))
    classic.experimental.extraOptimizations = existing ++ mine
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule { s =>
      Graft.excludeGenerateFilterInference(s)
      s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      graft.functions.DateTimeCompat.register(s)
      org.apache.spark.sql.graft.KmvSketch.register(s)
      org.apache.spark.sql.graft.QuantileSketch.register(s)
      org.apache.spark.sql.graft.FreqSketch.register(s)
      StarJoinElimination(s)
    }
    e.injectOptimizerRule(s => TimeBucketPruning(s))
    e.injectOptimizerRule(_ => SumOfLiteralRewrite)
    e.injectOptimizerRule(s => RollupRouting(s))
    // AFTER RollupRouting in the rule list: the sketch-served percentile
    // route must see the original Percentile node first
    e.injectOptimizerRule(_ => PercentileRewrite)
    e.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
  }
}
