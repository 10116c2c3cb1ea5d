package graft.cube

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental cube maintenance: bring a materialized cube (and every
  * rollup lattice node) up to date after its star tables grew — by
  * appending the new rows when the change is a pure append, by rewriting
  * only the time buckets whose data changed otherwise, never by rebuilding
  * the whole cube.
  *
  * This is the batch counterpart of the streaming upkeep
  * ([[graft.streaming.EventPipeline.rollupIngest]]). The reference
  * delegates it entirely to Druid's external indexing service (segments
  * are rebuilt per interval by `HadoopDruidIndexer`,
  * `docs/benchmark/BenchMarkDetails.org:676-699`); here it is a first-class
  * engine operation: summary-delta maintenance of the cube and its
  * aggregate views (Mumick, Quass, Mumick, SIGMOD 1997), kept apart from
  * serving as in POLARIS (VLDB 2020): work follows the delta, readers see
  * whole published generations.
  *
  * Mechanics. Each generation records the listings of every star table
  * ([[StarListing]]). A refresh compares them with the current ones and
  * takes one of two paths.
  *
  *   - *The gate.* The DELTA path is taken only when the change is provably
  *     a pure append, so that the new cube is exactly the old one plus the
  *     appended fact rows joined with the current dimensions (every star
  *     edge is many-to-one). All of these must hold, else the full path
  *     runs and [[Result.fullReason]] names the first that failed:
  *       - every recorded fact file is unchanged (`fact file rewritten`);
  *       - every recorded dimension file is unchanged (`dimension file
  *         rewritten`);
  *       - appended dimension rows carry only keys the recorded files lack,
  *         proved from footer min/max where the key is integral, else by an
  *         anti-join of the key columns (`dimension key reused`) — an old
  *         fact row never joins a new dimension row twice;
  *       - when dimension rows were appended, the current generation joined
  *         every recorded fact row (cube rows = fact rows, both from
  *         footers), so no old fact row can start joining one; and every
  *         appended fact row joins (`unjoined fact rows`);
  *       - listings exist for both sides (`no listing`) and the caller did
  *         not pin the dirty buckets (`explicit buckets`).
  *   - *Delta path.* The fact relation's file index in the caller's
  *     flattening frame is swapped to the appended files, so `flatFn` still
  *     defines the flattening, and that frame is materialized once; its
  *     per-bucket counts give the dirty buckets. The new generation holds
  *     hard links to every old file, and the delta rows are written as new
  *     files into their buckets beside them. Each lattice node gets the
  *     same treatment: the delta's partial aggregates are appended to the
  *     node's buckets (secondary-time nodes too), since serving already
  *     merges node rows (`sum(cnt)`, `sum(sum_x)`, min/max, sketch unions).
  *     A bucket directory past [[MaxFilesPerBucket]] files is compacted into
  *     one file by the refresh that appends to it. Stats come from one pass
  *     over the delta merged with the previous generation
  *     ([[CubeStats.merge]]): unioned NDV sketches, interval and lag unions,
  *     the sub-day OR. The exact-NDV proof value becomes a proven upper
  *     bound — previous value plus the delta's exact distinct count — and
  *     the exact whole-cube count runs only for a column whose bound crosses
  *     a sketch capacity the previous value was within. Total rows, NULL
  *     counts and the time interval come from footers: the previous
  *     generation's figures plus those of the appended files. Where the
  *     delta fits one partition, each step runs as one Spark job.
  *   - *Full path.* Dirty buckets are the pinned ones, every bucket when a
  *     dimension changed (any old fact row's joined values may have), and
  *     otherwise the buckets whose per-bucket fact row count differs from
  *     the cube's. The flattening join rewrites exactly those buckets (clean
  *     ones hard-linked), each node's dirty buckets are re-aggregated from
  *     the rewritten slice (a secondary-time node is rebuilt whole), and
  *     stats and proofs are measured over the whole new generation, as at
  *     build.
  *
  * No path runs a schema-inference job for a directory the engine wrote
  * ([[CubeCatalog.read]]), and publishing primes the catalog's scan cache
  * for the new generations, so the first query after a refresh plans
  * without listing them.
  */
object CubeRefresh {

  /** A bucket directory holding more data files than this after a delta
    * append is compacted into one file by the same refresh. Fixed, not a
    * setting: it bounds the files a scan opens per bucket, and every
    * compaction rewrites only the bucket it touches.
    */
  val MaxFilesPerBucket = 8

  val DeltaPath = "delta"
  val FullPath = "full"

  final case class Result(
      dirtyBuckets: Seq[Int],
      /** cube rows appended (delta path) or rewritten (full path) */
      cubeRowsWritten: Long,
      refreshed: RegisteredCube,
      /** wall time per phase in ms, in order: `detect`, `cube_slice`,
        * `node:<root dir name>` per lattice node, `stats`, `publish` —
        * contiguous, so they sum to the refresh's wall time under the lock.
        * On the delta path the cube and node writes run concurrently, and
        * each of their phases ends when its write has completed.
        */
      phasesMs: Seq[(String, Double)] = Nil,
      /** [[DeltaPath]] or [[FullPath]] */
      path: String = FullPath,
      /** the gate that sent the refresh down the full path */
      fullReason: Option[String] = None)

  /** How the full path finds its dirty buckets. */
  private sealed trait Dirty
  private final case class Pinned(buckets: Seq[Int]) extends Dirty
  private case object CountsDiffer extends Dirty
  private case object EveryBucket extends Dirty

  private final case class Full(reason: String, dirty: Dirty)

  /** One pass over the delta: its stats and NDV sketches
    * ([[CubeStats.measure]]), the exact distinct counts of the sketched
    * columns, and its row count.
    */
  private final case class Delta(stats: Map[String, Long], sketches: Map[String, Array[Byte]],
                                 ndv: Map[String, Long], rows: Long)

  /** Refresh `cube` from the current state of its sources. `flatFn` must
    * produce the SAME flattening the cube was materialized with (its column
    * set is aligned to the existing cube schema by name before writing).
    * Returns the updated registration.
    *
    * Consistency contract (r18 verdict item 1 — the reference's
    * coordinator swap, [[CubeGenerations]]): the refresh NEVER mutates a
    * serving directory. It stages a complete NEW generation of the fact
    * cube and of every lattice node (old files hard-linked, new or
    * rewritten buckets written — I/O stays proportional to the new data),
    * publishes by atomic pointer + catalog re-registration, and GCs
    * generations past keep-2 + the age grace. A query racing the refresh
    * serves exactly the whole generation it planned; a crash mid-stage
    * leaves no visible change. The WHOLE refresh (cube + all nodes, one
    * maintenance unit) holds the cube root's cross-JVM maintenance lock
    * ([[graft.operators.Artifacts.maintenanceLocked]]), so a foreign
    * driver's refresh serializes behind this one.
    *
    * Each refresh is also recorded in `graft_query_history` as a
    * `build:refresh:<cube>` row whose detail lists the phase times and the
    * path taken.
    */
  def refresh(spark: SparkSession, cube: RegisteredCube,
              flatFn: => DataFrame,
              explicitDirty: Option[Seq[Int]] = None): Result =
    graft.operators.Artifacts.maintenanceLocked(
        CubeGenerations.rootOf(cube.cubePath)) {
      // re-resolve every path to the CURRENT generation under the lock: a
      // caller holding a registration from before a foreign refresh must
      // diff against (and carry from) the real current state, not its
      // stale snapshot
      val resolved = cube.copy(
        cubePath = CubeGenerations.currentDir(cube.cubePath),
        rollups = cube.rollups.map(ru =>
          ru.copy(path = CubeGenerations.currentDir(ru.path))))
      val r = new Run(spark, resolved, flatFn, explicitDirty).result
      graft.plans.QueryHistory.recordBuild(s"refresh:${cube.info.name}",
        math.round(r.phasesMs.map(_._2).sum),
        (r.phasesMs.map { case (p, ms) => f"$p=$ms%.0fms" } ++
          Seq(s"dirty=${r.dirtyBuckets.size}", s"rows=${r.cubeRowsWritten}",
            s"path=${r.path}") ++ r.fullReason.map(g => s"gate=${g.replace(' ', '_')}"))
          .mkString(" "))
      r
    }

  /** One refresh, under the cube's maintenance lock. */
  private final class Run(spark: SparkSession, cube: RegisteredCube,
                          flatFn: => DataFrame, explicitDirty: Option[Seq[Int]]) {
    private val info = cube.info
    private val bkt = info.timeBucketColumn
    private lazy val conf = spark.sessionState.newHadoopConf()
    private val phases = Seq.newBuilder[(String, Double)]
    private var mark = System.nanoTime()
    private def endPhase(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - mark) / 1e6
      mark = now
    }
    private lazy val flat = flatFn
    private lazy val cubeCols = CubeCatalog.cubePlan(spark, cube).schema.fieldNames
    private def rowsOf(df: DataFrame) = df.select(cubeCols.map(col): _*)
    // the previous generation's footer figures: sidecar, no footer read
    private lazy val prevFooters =
      BucketFooters.totals(spark, cube.cubePath, bkt, info.timeColumn)
    private def bucketOf(dir: String): Int = dir.stripPrefix(bkt + "=").toInt

    // the listings are taken BEFORE the flattening frame reads the sources
    private val now: Option[StarListing.Star] =
      if (explicitDirty.isDefined) None
      else StarListing.listStar(info, cube.tablePaths).map(
        StarListing.withFigures(conf, info, _, StarListing.load(cube.cubePath)))

    val result: Result = gate() match {
      case Right(fact) if fact.isEmpty =>
        endPhase("detect")
        Result(Nil, 0L, cube, phases.result(), DeltaPath)
      case Right(fact)   => delta(fact).fold(full, identity)
      case Left(f)       => full(f)
    }

    /** The gate: the appended fact files of a proven pure append, or why
      * not and which buckets the full path rewrites.
      */
    private def gate(): Either[Full, Seq[StarListing.Entry]] = explicitDirty match {
      case Some(b) => Left(Full("explicit buckets", Pinned(b)))
      case None => (StarListing.load(cube.cubePath), now) match {
        case (Some(rec), Some(cur)) if rec.fact == cur.fact &&
            rec.tables.keySet == cur.tables.keySet =>
          val dimChanges = rec.dims.map { case (t, l) =>
            t -> StarListing.appended(l, cur.tables(t)) }
          val dimRewritten = dimChanges.values.exists(_.isEmpty)
          val newDims = dimChanges.collect { case (t, Some(fs)) if fs.nonEmpty => t -> fs }
          lazy val keyReused = newDims.exists { case (t, fs) =>
            !freshKeys(t, rec.tables(t), fs) }
          StarListing.appended(rec.factListing, cur.factListing) match {
            case None => Left(Full("fact file rewritten",
              if (dimRewritten || keyReused) EveryBucket else CountsDiffer))
            case _ if dimRewritten => Left(Full("dimension file rewritten", EveryBucket))
            case _ if keyReused    => Left(Full("dimension key reused", EveryBucket))
            case _ if newDims.nonEmpty &&
                !rec.factListing.rows.contains(prevFooters.rowsByBucket.values.sum) =>
              Left(Full("unjoined fact rows", EveryBucket))
            case Some(fact) => Right(fact)
          }
        case _ => Left(Full("no listing", CountsDiffer))
      }
    }

    /** Whether the appended files of dimension `table` carry only join keys
      * its recorded files lack, for every star edge into it: one key column
      * whose footer ranges are disjoint proves it, else an anti-join of the
      * edge's key columns (NULL keys never join, so they are left out).
      */
    private def freshKeys(table: String, recorded: StarListing.Listing,
                          appended: Seq[StarListing.Entry]): Boolean =
      StarListing.dimKeys(info).getOrElse(table, Nil).forall { keys =>
        def range(es: Seq[StarListing.Entry], c: String) =
          if (es.isEmpty || !es.forall(_.keyRanges.contains(c))) None
          else Some((es.map(_.keyRanges(c)._1).min, es.map(_.keyRanges(c)._2).max))
        keys.exists(c => (range(recorded.files, c), range(appended, c)) match {
          case (Some((rlo, rhi)), Some((alo, ahi))) => ahi < rlo || alo > rhi
          case _                                    => false
        }) || graft.Graft.withoutRewrites(spark) {
          def keysOf(es: Seq[StarListing.Entry]) = spark.read
            .parquet(es.map(e => new java.io.File(recorded.root, e.rel).getPath): _*)
            .select(keys.map(col): _*).na.drop()
          recorded.files.isEmpty || keysOf(appended).intersect(keysOf(recorded.files)).isEmpty
        }
      }

    /** The delta path; `Left` when the appended fact rows do not all join
      * (nothing is staged by then).
      */
    private def delta(fact: Seq[StarListing.Entry]): Either[Full, Result] = {
      val (factRoot, _) = StarListing.factSource(info, cube.tablePaths).get
      // a frame that scans no relation rooted at the fact table leaves the
      // listing nothing to narrow
      val deltaFrame = overFiles(flat, factRoot,
        fact.map(e => new java.io.File(factRoot, e.rel).getPath))
        .getOrElse(return Left(Full("no listing", CountsDiffer)))
      // materialized once; every later step reads it. Where it fits one
      // partition, every step below runs as one Spark job: a single-
      // partition child satisfies any aggregate or write distribution, so
      // no exchange is planned
      val single = fact.map(_.size).sum <=
        spark.sessionState.conf.filesMaxPartitionBytes
      def one(df: DataFrame) = if (single) df.coalesce(1) else df
      val rows = one(rowsOf(deltaFrame
        .withColumn(bkt, TpchCube.bucketExpr(info.timeColumn))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the pass that materializes the delta measures it: its stats and
        // sketches, the exact distinct counts of the sketched columns
        // (collect_set, not countDistinct: a distinct aggregate beside the
        // others makes Spark expand every row once per distinct column;
        // a set can only over-count, -0.0 vs 0.0, which keeps the NDV bound
        // sound) and its row count
        val (deltaStats, deltaSketches, counts) = graft.Graft.withoutRewrites(spark)(
          CubeStats.measure(info, one(rows),
            sketched.map(c => size(collect_set(col(c))).cast("long")) :+ count(lit(1))))
        if (deltaStats.get("__time_nulls").exists(_ > 0)) throw new IllegalStateException(
          s"appended fact rows under $factRoot have a NULL time; a refresh " +
            "maintains time buckets only — rebuild the cube to include them")
        val deltaRows = counts.last
        if (!StarListing.Listing(factRoot, fact).rows.contains(deltaRows))
          Left(Full("unjoined fact rows", EveryBucket))
        else {
          endPhase("detect")
          val measured = Delta(deltaStats, deltaSketches, sketched.zip(counts).toMap, deltaRows)
          Right(graft.Graft.withoutRewrites(spark)(appendDelta(rows, one, single, measured)))
        }
      } finally rows.unpersist(blocking = false)
    }

    /** Stage and publish the new generations from the materialized delta
      * `rows` of the cube and its measurements.
      */
    private def appendDelta(rows: DataFrame, one: DataFrame => DataFrame, single: Boolean,
                            delta: Delta): Result = {
      // the cube and every node are written from the materialized delta
      // independently, as concurrent Spark jobs; each phase ends when its
      // step has completed, awaited in this order, so the phases stay
      // contiguous and sum to the wall time
      val pool = java.util.concurrent.Executors.newFixedThreadPool(1 + cube.rollups.size)
      implicit val steps: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      def await[T](f: scala.concurrent.Future[T]): T =
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
      val nextCube = CubeGenerations.nextDir(cube.cubePath)
      val (addedFigures, stagedNodes) = try {
        // the cube: every old file hard-linked, the delta rows appended;
        // the buckets they landed in are the dirty ones
        val cubeStep = scala.concurrent.Future {
          CubeGenerations.stageCarry(cube.cubePath, nextCube)(_.startsWith(bkt + "="))
          val added = appendRows(rows, nextCube, Seq(bkt), info.clusterDims, single)
          // footer figures of the appended files, taken before a
          // compaction replaces them
          val figures = added.groupBy(_._1).map { case (b, fs) =>
            b -> BucketFooters.of(spark, fs.map(_._2), info.timeColumn) }
          compact(nextCube, added, Seq(bkt), info.clusterDims)
          figures
        }
        // each node: every old file hard-linked, the delta's partial
        // aggregates appended
        val nodeSteps = cube.rollups.map { ru =>
          val nextNode = CubeGenerations.nextDir(ru.path)
          ru -> nextNode -> scala.concurrent.Future {
            val parts = nodeBucket(info, ru) +: ru.partitionDims
            CubeGenerations.stageCarry(ru.path, nextNode)(_.startsWith(parts.head + "="))
            val nodeCols = CubeCatalog.rollupPlan(spark, ru).schema.fieldNames
            val partials = buildNode(one(rows), info, ru).select(nodeCols.map(col): _*)
            compact(nextNode, appendRows(partials, nextNode, parts, ru.clusterDims, single),
              parts, ru.clusterDims)
          }
        }
        val figures = await(cubeStep)
        endPhase("cube_slice")
        figures -> nodeSteps.map { case ((ru, nextNode), step) =>
          await(step)
          endPhase(s"node:${new java.io.File(CubeGenerations.rootOf(ru.path)).getName}")
          ru -> nextNode
        }
      } finally pool.shutdown()

      // stats: the delta's, merged with the previous generation's
      val footers = BucketFooters.ensure(spark, nextCube, bkt, info.timeColumn,
        carriedFrom = Some(cube.cubePath), added = addedFigures)
      val (stats, exactNdv, nullCounts) =
        (CubeStats.load(info, cube.cubePath), CubeStats.loadSketches(info, cube.cubePath)) match {
          case (Some(prevStats), Some(prevSketches)) =>
            mergedStats(delta, prevStats, prevSketches, footers, nextCube)
          case _ => measuredStats(footers, nextCube)
        }
      // every appended fact file was read by the delta; dimension files
      // count as absorbed only when the frame read them
      val cur = now.get
      val absorbed = StarListing.readBy(cur, flat)
      StarListing.save(nextCube, absorbed.copy(tables = absorbed.tables +
        (cur.fact -> cur.factListing)))
      val refreshed = withProofs(nextCube, stagedNodes, footers, stats, exactNdv, nullCounts)
      endPhase("stats")
      publish(refreshed, nextCube, stagedNodes)
      Result(addedFigures.keys.map(bucketOf).toSeq.sorted, delta.rows, refreshed,
        phases.result(), DeltaPath)
    }

    /** The full path: rewrite the dirty buckets of the cube and of every
      * node from the flattening frame, and measure stats over the new
      * generation.
      */
    private def full(f: Full): Result = {
      val dirty: Seq[Int] = f.dirty match {
        case Pinned(b) => b
        case d =>
          val (factPath, srcTimeCol) = StarListing.factSource(info, cube.tablePaths).getOrElse(
            throw new IllegalStateException(
              s"cube ${info.name}: fact table not resolvable from metadata; " +
                "pass explicitDirty"))
          val inCube = prevFooters.rowsByBucket.map { case (b, n) => bucketOf(b) -> n }
          val inFact = factBucketCounts(factPath, srcTimeCol)
          (inFact.keySet ++ inCube.keySet).toSeq.sorted.filter(b =>
            d == EveryBucket || inFact.getOrElse(b, 0L) != inCube.getOrElse(b, 0L))
      }
      endPhase("detect")
      if (dirty.isEmpty) return Result(Nil, 0L, cube, phases.result(), FullPath, Some(f.reason))
      val dirtyDirs = dirty.map(b => s"$bkt=$b").toSet

      // stage the new cube generation: clean buckets carried by hard
      // link, dirty buckets written fresh. The bucket predicate references
      // only the fact table's time column, so Catalyst pushes it below the
      // joins to the fact scan.
      val nextCube = CubeGenerations.nextDir(cube.cubePath)
      CubeGenerations.stageCarry(cube.cubePath, nextCube)(name =>
        name.startsWith(bkt + "=") && !dirtyDirs.contains(name))
      val slice = rowsOf(flat
        .withColumn(bkt, TpchCube.bucketExpr(info.timeColumn))
        .filter(col(bkt).isin(dirty: _*)))
      // written WITHOUT rewrites: the flattening join must read the raw
      // sources, never collapse onto the stale cube it is replacing.
      // Rewritten buckets keep the cube's DECLARED intra-bucket clustering
      // (CubeInfo.clusterDims) — the sort leads with the partition column so
      // the dynamic-partition writer reuses it instead of re-sorting the
      // slice by bucket alone and silently flattening the layout.
      graft.Graft.withoutRewrites(spark) {
        val repart = slice.repartition(col(bkt))
        val clusteredSlice =
          if (info.clusterDims.isEmpty) repart
          else repart.sortWithinPartitions((bkt +: info.clusterDims).map(col): _*)
        clusteredSlice
          .write.mode("overwrite")
          // dynamic: replace only the dirty partitions being written,
          // keeping the hard-linked clean buckets in the staging dir
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(bkt)
          .parquet(nextCube)
      }
      endPhase("cube_slice")

      // stage each rollup node's new generation from the refreshed cube
      // slice (partition-pruned: only dirty buckets are read)
      val nextCubeDf = spark.read.schema(CubeCatalog.cubePlan(spark, cube).schema)
        .parquet(nextCube)
      val freshSlice = nextCubeDf.filter(col(bkt).isin(dirty: _*))
      val stagedNodes: Seq[(RollupMeta, String)] = cube.rollups.map { ru =>
        val nextNode = CubeGenerations.nextDir(ru.path)
        val nodeCols = CubeCatalog.rollupPlan(spark, ru).schema.fieldNames
        // aggregated WITHOUT rewrites: the node rebuild must scan the fresh
        // cube slice, never be served from the stale node being rebuilt
        graft.Graft.withoutRewrites(spark) {
          if (isSecondary(info, ru)) {
            // a primary-bucket dirty slice straddles SECONDARY buckets
            // partially (one order-month receives rows from many ship-
            // months), so a partition-level carry would drop the clean
            // ship-months' contributions — rebuild the whole node (it is
            // |dims|×buckets small) from the full new cube generation
            writeNode(buildNode(nextCubeDf, info, ru).select(nodeCols.map(col): _*),
              info, ru, nextNode, dynamic = false)
          } else {
            // dim partition columns nest UNDER the bucket, so writing a
            // dirty bucket's leaf dirs replaces exactly that bucket's
            // cells in the staging generation
            CubeGenerations.stageCarry(ru.path, nextNode)(name =>
              name.startsWith(bkt + "=") && !dirtyDirs.contains(name))
            writeNode(buildNode(freshSlice, info, ru).select(nodeCols.map(col): _*),
              info, ru, nextNode, dynamic = true)
          }
        }
        endPhase(s"node:${new java.io.File(CubeGenerations.rootOf(ru.path)).getName}")
        ru -> nextNode
      }

      // exact figures from the new generation's footers (dirty buckets
      // read, clean ones carried: BucketFooters), the rest measured over
      // the whole new generation
      val footers = BucketFooters.ensure(spark, nextCube, bkt, info.timeColumn,
        carriedFrom = Some(cube.cubePath), reread = dirtyDirs)
      val written = dirtyDirs.toSeq.map(footers.rowsByBucket.getOrElse(_, 0L)).sum
      val (stats, exactNdv, nullCounts) = measuredStats(footers, nextCube)
      // only the files the flattening read count as absorbed
      now.foreach(l => StarListing.save(nextCube, StarListing.readBy(l, flat)))
      val refreshed = withProofs(nextCube, stagedNodes, footers, stats, exactNdv, nullCounts)
      endPhase("stats")
      publish(refreshed, nextCube, stagedNodes)
      Result(dirty, written, refreshed, phases.result(), FullPath, Some(f.reason))
    }

    /** Per-bucket counts of the fact table alone (no joins): the star edges
      * are all many-to-one from the fact, so flat row count per bucket
      * equals fact row count per bucket.
      */
    private def factBucketCounts(factPath: String, srcTimeCol: String): Map[Int, Long] =
      graft.Graft.withoutRewrites(spark) {
        // the raw fact table, NOT the cube: a bare-fact aggregate would
        // otherwise collapse onto the very cube being refreshed and compare
        // the stale data against itself
        spark.read.parquet(factPath)
          .groupBy(TpchCube.bucketExpr(srcTimeCol).as("g_b"))
          .count()
          .collect()
          .map(r => r.getInt(0) -> r.getLong(1))
          .toMap
      }

    private lazy val sketched = sketchedColumns(cube.rollups)
    private def footerNulls(footers: BucketFooters.Totals) = {
      val nullCols = provedNullColumns(cube.rollups)
      val fromFooters = footers.nulls.filter { case (c, _) => nullCols.contains(c) }
      (fromFooters, nullCols.filterNot(fromFooters.contains))
    }

    /** Stats of the new generation: the delta's merged with the previous
      * generation's, exact NDVs as proven upper bounds.
      */
    private def mergedStats(delta: Delta, prevStats: Map[String, Long],
                            prevSketches: Map[String, Array[Byte]],
                            footers: BucketFooters.Totals, nextCube: String)
        : (Map[String, Long], Map[String, Long], Map[String, Long]) = {
      val (merged, sketches) = CubeStats.merge(prevStats, prevSketches,
        delta.stats, delta.sketches)
      val stats = merged ++
        footers.nulls.get(info.timeColumn).map("__time_nulls" -> _) ++
        footers.timeRange.toSeq.flatMap { case (lo, hi) =>
          Seq("__time_min_us" -> lo, "__time_max_us" -> hi) }
      CubeStats.save(nextCube, stats, sketches)
      // the previous generation's proof values, from ITS descriptor: the
      // caller's registration may predate a foreign refresh
      val prevNdv: Map[String, Long] = CubeMeta.load(cube.cubePath).toSeq
        .flatMap(_.rollups.flatMap(_.kmvExactNdv)).groupBy(_._1)
        .map { case (c, vs) => c -> vs.map(_._2).max }
      // a sketch is lossless while the column's NDV fits its capacity
      val capacities: Map[String, Seq[Int]] = cube.rollups
        .flatMap(ru => ru.kmvSketches.keys.map(_ -> ru.kmvK) ++
          ru.freqSketches.keys.map(_ -> ru.freqK) ++
          ru.freqWeighted.map(_._1 -> ru.freqK))
        .groupBy(_._1).map { case (c, ks) => c -> ks.map(_._2) }
      val bound = sketched.flatMap(c =>
        prevNdv.get(c).map(p => c -> (p + delta.ndv(c)))).toMap
      val remeasure = sketched.filter(c => !bound.contains(c) ||
        capacities.getOrElse(c, Nil).exists(k => prevNdv(c) <= k && bound(c) > k))
      val (nulls, missingNulls) = footerNulls(footers)
      val (exact, measuredNulls) = graft.Graft.withoutRewrites(spark)(
        exactCounts(CubeCatalog.read(spark, nextCube), remeasure, missingNulls))
      (stats, bound ++ exact, nulls ++ measuredNulls)
    }

    /** Stats, exact NDVs and NULL counts measured over the whole new
      * generation, as at build. Measured WITHOUT rewrites: routing them
      * through the sketches they vouch for would be circular.
      */
    private def measuredStats(footers: BucketFooters.Totals, nextCube: String)
        : (Map[String, Long], Map[String, Long], Map[String, Long]) =
      graft.Graft.withoutRewrites(spark) {
        val stats = CubeStats.ensure(spark, info, nextCube)
        val (nulls, missingNulls) = footerNulls(footers)
        val (exact, measuredNulls) =
          exactCounts(CubeCatalog.read(spark, nextCube), sketched, missingNulls)
        (stats, exact, nulls ++ measuredNulls)
      }

    private def withProofs(nextCube: String, stagedNodes: Seq[(RollupMeta, String)],
                           footers: BucketFooters.Totals, stats: Map[String, Long],
                           exactNdv: Map[String, Long], nullCounts: Map[String, Long])
        : RegisteredCube =
      cube.copy(
        info = CubeStats.withStats(info, stats),
        cubePath = nextCube,
        rollups = stagedNodes.map { case (ru, nextNode) => ru.copy(
          path = nextNode,
          totalRows = Some(footers.rowsByBucket.values.sum),
          kmvExactNdv = ru.kmvExactNdv ++ exactNdv,
          exactNullCount = ru.exactNullCount ++ nullCounts)})

    /** Descriptor INTO the new generation first (a foreign session
      * resolving the new pointer must find a descriptor naming the new node
      * paths — one internally-consistent set), then the node pointers, then
      * the cube pointer, then this session's catalog. Only AFTER
      * publication do the caches drop the old listing, the scan cache take
      * the new generations, and the GC collect generations past keep-2 +
      * the age grace.
      */
    private def publish(refreshed: RegisteredCube, nextCube: String,
                        stagedNodes: Seq[(RollupMeta, String)]): Unit = {
      CubeMeta.save(refreshed)
      stagedNodes.foreach { case (_, nextNode) =>
        CubeGenerations.publish(nextNode, nextNode)
      }
      CubeGenerations.publish(nextCube, nextCube)
      CubeCatalog.register(refreshed)
      val fresh = nextCube +: stagedNodes.map(_._2)
      (cube.cubePath +: stagedNodes.map(_._1.path)).foreach { p =>
        spark.catalog.refreshByPath(p)
        CubeCatalog.invalidatePlan(p)
      }
      // raw-table reads must see the appended files: Spark's listing cache
      // may hold the star tables' old listings
      org.apache.spark.sql.graft.FileListingCache.invalidateAll(spark)
      org.apache.spark.sql.graft.ScanBytes.invalidateDirCosts()
      fresh.foreach(CubeCatalog.prime(spark, _))
      fresh.foreach(CubeGenerations.gc(spark, _))
      endPhase("publish")
    }

    /** Write `rows` into `dest` as new files beside the ones already there,
      * partitioned by `parts` and sorted by them and `cluster` within each
      * file; returns each new file with its leaf directory (relative to
      * `dest`). A single-partition input writes one file per leaf in one
      * job; a larger one is spread by the leading partition column first.
      */
    private def appendRows(rows: DataFrame, dest: String, parts: Seq[String],
                           cluster: Seq[String], single: Boolean): Seq[(String, java.io.File)] = {
      val base = java.nio.file.Paths.get(dest)
      def files() = StarListing.dataFiles(base).toSet
      val before = files()
      (if (single) rows else rows.repartition(col(parts.head)))
        .sortWithinPartitions((parts ++ cluster).map(col): _*)
        .write.mode("append").partitionBy(parts: _*).parquet(dest)
      (files() -- before).toSeq.map(f => base.relativize(f.getParent).toString -> f.toFile)
    }

    /** Rewrite each leaf directory of `dest` that `added` touched and that
      * now holds more than [[MaxFilesPerBucket]] data files as one file, in
      * one job for all of them. Node rows are concatenated, not
      * re-aggregated: serving merges them either way.
      */
    private def compact(dest: String, added: Seq[(String, java.io.File)], parts: Seq[String],
                        cluster: Seq[String]): Unit = {
      val over = added.map(_._1).distinct.filter(leaf =>
        StarListing.dataFiles(java.nio.file.Paths.get(dest, leaf)).size > MaxFilesPerBucket)
      if (over.nonEmpty) {
        val tmp = s"$dest/_compacting"
        CubeCatalog.readLeaves(spark, dest, over)
          .repartition(parts.map(col): _*)
          .sortWithinPartitions((parts ++ cluster).map(col): _*)
          .write.mode("overwrite").partitionBy(parts: _*).parquet(tmp)
        over.foreach { leaf =>
          StarListing.dataFiles(java.nio.file.Paths.get(dest, leaf))
            .foreach(java.nio.file.Files.delete)
          StarListing.dataFiles(java.nio.file.Paths.get(tmp, leaf)).foreach(f =>
            java.nio.file.Files.move(f, java.nio.file.Paths.get(dest, leaf, f.getFileName.toString)))
        }
        CubeGenerations.rmTree(new java.io.File(tmp))
      }
    }

    /** `df` with the fact relation's file index narrowed to `files`; None
      * when the frame scans no relation rooted at the fact table.
      */
    private def overFiles(df: DataFrame, factRoot: String, files: Seq[String]): Option[DataFrame] = {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
      def abs(p: String) = java.nio.file.Paths.get(p).toAbsolutePath.normalize
      val root = abs(factRoot)
      var found = false
      val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.analyzed.transformUp {
          case lr: LogicalRelation => lr.relation match {
            case h: HadoopFsRelation if h.location.rootPaths.map(p =>
                abs(p.toUri.getPath)) == Seq(root) =>
              found = true
              val partitioned = h.partitionSchema.nonEmpty
              val index = new InMemoryFileIndex(spark,
                files.map(new org.apache.hadoop.fs.Path(_)),
                if (partitioned) h.options + ("basePath" -> factRoot) else h.options,
                if (partitioned) Some(h.partitionSchema) else None)
              lr.copy(relation = h.copy(location = index)(h.sparkSession))
            case _ => lr
          }
        }
      if (found) Some(org.apache.spark.sql.graft.PlanDataset.ofRows(spark, plan)) else None
    }
  }

  /** The bucket column a node's directories are partitioned by first. */
  private def nodeBucket(info: CubeInfo, ru: RollupMeta): String =
    if (isSecondary(info, ru)) ru.timeBucketColumn else info.timeBucketColumn

  /** The columns whose exact NDV the nodes' sketches need as proof. */
  private[cube] def sketchedColumns(nodes: Seq[RollupMeta]): Seq[String] =
    nodes.flatMap(ru => ru.kmvSketches.keys ++ ru.freqSketches.keys ++
      ru.freqWeighted.flatMap(t => Seq(t._1, t._2))).distinct.sorted

  /** The columns whose exact NULL count the nodes' serving needs as proof:
    * the sketched ones (sketches skip NULLs) and the summed ones (`avg`
    * merges as `sum(sum_x) / sum(cnt)`, which counts NULL rows).
    */
  private[cube] def provedNullColumns(nodes: Seq[RollupMeta]): Seq[String] =
    (sketchedColumns(nodes) ++ nodes.flatMap(_.sums.keys)).distinct.sorted

  /** Write node rows to `dest`, partitioned by a bucket column and then
    * the node's partition dims, each leaf sorted by its cluster dims. The
    * bucket column is the cube's own for a primary-time node — a day-grain
    * node's day buckets nest inside it, so a refresh carries and replaces
    * whole cube buckets of every primary node — and the node's own for a
    * secondary-time node. The sort leads with the partition columns, or the
    * dynamic-partition writer re-sorts (unstably) and drops the clustering.
    * `dynamic` replaces only the partitions written, keeping everything
    * else staged in `dest`.
    */
  private[cube] def writeNode(rows: DataFrame, info: CubeInfo, ru: RollupMeta,
                              dest: String, dynamic: Boolean): Unit = {
    val parts = nodeBucket(info, ru) +: ru.partitionDims
    val spread = rows.repartition(col(parts.head))
    val clustered =
      if (ru.clusterDims.isEmpty) spread
      else spread.sortWithinPartitions((parts ++ ru.clusterDims).map(col): _*)
    val writer = clustered.write.mode("overwrite")
    (if (dynamic) writer.option("partitionOverwriteMode", "dynamic") else writer)
      .partitionBy(parts: _*).parquet(dest)
  }

  /** Exact distinct counts of `ndvCols` and NULL counts of `nullCols` in
    * `df`, in one pass (none when both are empty).
    */
  private[cube] def exactCounts(df: => DataFrame, ndvCols: Seq[String], nullCols: Seq[String])
      : (Map[String, Long], Map[String, Long]) =
    if (ndvCols.isEmpty && nullCols.isEmpty) (Map.empty, Map.empty)
    else {
      val row = df.select((ndvCols.map(c => countDistinct(col(c)))
        ++ nullCols.map(c => count(when(col(c).isNull, 1)))): _*).head()
      (ndvCols.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap,
        nullCols.zipWithIndex.map { case (c, i) =>
          c -> row.getLong(ndvCols.size + i) }.toMap)
    }

  /** A node bucketed by a different time column than the cube's own. */
  private[cube] def isSecondary(info: CubeInfo, ru: RollupMeta): Boolean =
    ru.timeColumn.exists(!_.equalsIgnoreCase(info.timeColumn))

  /** Aggregate one rollup lattice node from flat-cube rows, reconstructed
    * entirely from its [[RollupMeta]] — the same shapes the original build
    * used (DECIMAL(28,6) sums, derived-metric sums, HLL/KMV sketches).
    */
  private[cube] def buildNode(flat: DataFrame, info: CubeInfo,
                              ru: RollupMeta): DataFrame = {
    val timeSrc = ru.timeColumn.getOrElse(info.timeColumn)
    val withDay =
      if (!flat.columns.contains(ru.timeBucketColumn)) {
        if (ru.grain == "day")
          flat.withColumn(ru.timeBucketColumn, TpchCube.dayBucketExpr(timeSrc))
        else flat.withColumn(ru.timeBucketColumn, TpchCube.bucketExpr(timeSrc))
      } else flat
    // a secondary-time node is grouped by ITS buckets only: folding the
    // primary bucket in (the incremental-refresh trick the q1 day node
    // uses) would split every cell across ~all primary months
    val groupCols =
      if (isSecondary(info, ru)) Seq(ru.timeBucketColumn) ++ ru.dims
      else (Seq(info.timeBucketColumn) ++ ru.dims ++ Seq(ru.timeBucketColumn)).distinct
    val sums = ru.sums.toSeq.sortBy(_._2).map { case (src, dst) =>
      sum(col(src).cast("decimal(28,6)")).as(dst) }
    val derived = ru.derivedSums.toSeq.sortBy(_._2).map { case (key, dst) =>
      sum(RollupCube.derivedCol(key).cast("decimal(28,6)")).as(dst) }
    val mins = ru.mins.toSeq.sortBy(_._2).map { case (src, dst) => min(col(src)).as(dst) }
    val maxs = ru.maxs.toSeq.sortBy(_._2).map { case (src, dst) => max(col(src)).as(dst) }
    val hlls = ru.hllSketches.toSeq.sortBy(_._2).map { case (src, dst) =>
      hll_sketch_agg(col(src)).as(dst) }
    val kmvs = ru.kmvSketches.toSeq.sortBy(_._2).map { case (src, dst) =>
      org.apache.spark.sql.graft.KmvSketch.kmvSketch(col(src), ru.kmvK).as(dst) }
    val qsks = ru.quantileSketches.toSeq.sortBy(_._2).map { case (src, dst) =>
      org.apache.spark.sql.graft.QuantileSketch
        .qskSketch(col(src), ru.quantileK).as(dst) }
    val freqs = ru.freqSketches.toSeq.sortBy(_._2).map { case (src, dst) =>
      org.apache.spark.sql.graft.FreqSketch.freqSketch(col(src), ru.freqK).as(dst) }
    val freqWs = ru.freqWeighted.sortBy(_._3).map { case (src, w, dst) =>
      org.apache.spark.sql.graft.FreqSketch
        .freqSketchBy(col(src), col(w), ru.freqK).as(dst) }
    withDay.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as(ru.countColumn),
        (sums ++ derived ++ mins ++ maxs ++ hlls ++ kmvs ++ qsks ++ freqs ++ freqWs): _*)
  }
}
