package graft.cube

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** A cube registered for plan rewriting: metadata + the materialized cube's
  * parquet path + the parquet paths of the base tables it flattens.
  *
  * The reference registers a relation linking a source DataFrame to a Druid
  * index (`DefaultSource.scala:32-194`); here the "index" is a denormalized
  * Parquet table partitioned by a time bucket, so partition pruning plays
  * the role of Druid's interval-based segment selection.
  */
/** Metadata of a materialized pre-aggregated rollup of a cube: where it
  * lives, which dimensions it preserves and how each stored metric merges.
  */
final case class RollupMeta(
    path: String,
    dims: Seq[String],
    timeBucketColumn: String,
    countColumn: String,
    sums: Map[String, String],
    mins: Map[String, String],
    maxs: Map[String, String],
    /** source column -> stored KMV sketch column (distinct-count serving) */
    kmvSketches: Map[String, String] = Map.empty,
    /** source column -> stored HLL sketch column (approx distinct serving;
      * also what lets [[CubeRefresh]] rebuild a node's sketch columns)
      */
    hllSketches: Map[String, String] = Map.empty,
    /** k of the stored KMV sketches */
    kmvK: Int = org.apache.spark.sql.graft.KmvSketch.DefaultK,
    /** Distinct count of each sketched column: EXACT at rollup build, a
      * PROVEN UPPER BOUND after a refresh (the previous value plus the
      * appended rows' exact distinct count, see [[CubeRefresh]]). Either is
      * the proof obligation for serving `count(DISTINCT)` or TopN from the
      * sketch losslessly — a bound within the sketch's capacity proves the
      * true count is too (approximate NDV stats are not proof)
      */
    kmvExactNdv: Map[String, Long] = Map.empty,
    /** derived-metric key (see `RollupCube.derivedDefs`) -> stored sum
      * column — ingestion-time computed measures, the rollup analog of
      * Druid's derived metric columns
      */
    derivedSums: Map[String, String] = Map.empty,
    /** grain of `timeBucketColumn`: "month" (months since epoch) or "day"
      * (days since epoch) — Druid's datasource `queryGranularity`
      */
    grain: String = "month",
    /** source column -> stored quantile sketch column (exact percentile
      * serving below the saturation gate, [[org.apache.spark.sql.graft.QuantileSketch]])
      */
    quantileSketches: Map[String, String] = Map.empty,
    /** k (value capacity) of the stored quantile sketches */
    quantileK: Int = org.apache.spark.sql.graft.QuantileSketch.DefaultK,
    /** source column -> stored heavy-hitters (Misra-Gries) sketch column —
      * approximate-TopN serving ([[org.apache.spark.sql.graft.FreqSketch]]);
      * exact (err = 0) while the merged group's NDV stays below `freqK`
      */
    freqSketches: Map[String, String] = Map.empty,
    /** counter capacity of the stored heavy-hitters sketches */
    freqK: Int = org.apache.spark.sql.graft.FreqSketch.DefaultK,
    /** EXACT NULL count of each sketched column, measured at rollup build —
      * sketches skip NULLs, so group-by serves from them are only sound
      * when the column provably has none
      */
    exactNullCount: Map[String, Long] = Map.empty,
    /** (dim column, weight metric, stored sketch column) — weighted
      * heavy-hitters sketches: per-item exact-micros weighted sums, the
      * TopN-over-a-sum-metric serving path
      */
    freqWeighted: Seq[(String, String, String)] = Nil,
    /** TOTAL fact rows under this node, measured at build — the proof
      * obligation for serving `percentile()` from the sketches losslessly:
      * totalRows <= quantileK means no merged subset of cells can saturate
      */
    totalRows: Option[Long] = None,
    /** Cube column `timeBucketColumn` buckets, when it is NOT the cube's
      * primary time dimension — a SECONDARY-time lattice node (e.g. the
      * TPC-H cube is partitioned by ship date, but order-date-sliced
      * aggregates roll up under month-of-o_orderdate). `None` = the cube's
      * own time column. Time filters/groupings on this column translate to
      * this node's buckets; the cube-level data-interval vacuity and
      * day-quantization proofs apply only to the primary column and are
      * not used for secondary-time nodes.
      */
    timeColumn: Option[String] = None,
    /** Dims that Hive-partition the node's layout UNDER the time bucket
      * (`bucket=B/dim=V/` leaf dirs) — selective dim predicates then
      * partition-prune the node scan the way intervals prune its buckets
      * (Druid's single-dim partitioning, chosen per node for its serving
      * query's filter column). Dynamic partition overwrite by dirty bucket
      * still works: a bucket's write replaces exactly its leaf dirs.
      */
    partitionDims: Seq[String] = Nil,
    /** Dims the build SORTS rows by inside each leaf (after
      * `partitionDims`) — Druid's secondary sort: tight parquet min/max
      * per row group turn the serving shape's residual predicate into
      * row-group skips. Pure layout (no serving semantics); recorded so
      * [[CubeRefresh]] rebuilds preserve the clustering.
      */
    clusterDims: Seq[String] = Nil)

final case class RegisteredCube(
    info: CubeInfo,
    cubePath: String,
    tablePaths: Map[String, String],
    /** pre-aggregated rollups, coarsest (smallest) first — routing tries
      * them in order, the OLAP-lattice walk
      */
    rollups: Seq[RollupMeta] = Nil) {

  private val pathToTable: Map[String, String] = tablePaths.map(_.swap)

  def tableForPath(path: String): Option[String] = pathToTable.get(path)

  def rollup: Option[RollupMeta] = rollups.lastOption
}

object CubeCatalog {

  private val cubes = TrieMap.empty[String, RegisteredCube]

  def register(cube: RegisteredCube): Unit = cubes.put(cube.info.name, cube)
  def unregister(name: String): Unit = cubes.remove(name)

  /** Drop all registered cubes and cached scan plans (the reference's
    * `CLEAR DRUID CACHE` metadata invalidation,
    * `SparklineDataParser.scala:108-110`). Materialized parquet stays on
    * disk; the next `ensure`/`register` rebuilds metadata from it.
    */
  def clear(): Unit = { cubes.clear(); planCache.clear() }

  /** Resolve a cube by name, database-qualified or bare (the reference
    * serves `db.table` datasources — `MultiDBTest.scala`). Exact match
    * wins; a bare name also resolves a qualified registration when exactly
    * one cube's last name segment matches (Spark's current-database
    * convenience without its ambiguity: two candidates resolve to none).
    */
  def get(name: String): Option[RegisteredCube] = cubes.get(name).orElse {
    if (name.contains(".")) None
    else cubes.collect {
      case (k, c) if k.contains(".") && k.substring(k.lastIndexOf('.') + 1) == name => c
    }.toList match {
      case c :: Nil => Some(c)
      case _        => None
    }
  }.map(refreshedIfStale)
  def all: Seq[RegisteredCube] = cubes.values.toSeq.map(refreshedIfStale)

  /** Foreign-refresh staleness guard (r19, [[CubeGenerations]]): a cube
    * refreshed by ANOTHER JVM publishes a new generation and repoints
    * the on-disk pointer, but cannot reach this JVM's in-memory
    * registration — without this check a long-lived session would keep
    * serving the previous generation and, two foreign refreshes plus
    * the GC grace later, a collected one. Every catalog read re-checks
    * the cube's pointer (one file read, rate-limited per cube to
    * [[StaleCheckMs]]) and re-attaches from the CURRENT generation's
    * descriptor when it moved — the role the reference's
    * `DruidMetadataCache` periodic segment refresh plays. A cube whose
    * pointer or descriptor cannot be read keeps serving its registered
    * generation (grace-protected for one foreign refresh cycle).
    */
  private val StaleCheckMs = 5000L
  private val lastStaleCheck = TrieMap.empty[String, Long]

  /** Test hook: make the next catalog read re-check pointers NOW. */
  private[graft] def forceStaleCheck(): Unit = lastStaleCheck.clear()

  private def refreshedIfStale(cube: RegisteredCube): RegisteredCube = {
    val now = System.currentTimeMillis()
    if (now - lastStaleCheck.getOrElse(cube.info.name, 0L) < StaleCheckMs)
      cube
    else {
      lastStaleCheck.put(cube.info.name, now)
      val cur =
        try CubeGenerations.currentDir(cube.cubePath)
        catch { case _: java.io.IOException => cube.cubePath }
      if (cur == cube.cubePath) cube
      else
        try CubeMeta.load(cube.cubePath) match { // load resolves current
          case Some(fresh) if fresh.info.name == cube.info.name =>
            // the descriptor-load → put pair is not atomic against a
            // concurrent LOCAL CubeRefresh registering a NEWER generation
            // in between: only replace a registration this load actually
            // supersedes, never regress the catalog onto the generation
            // the refresh just left (r19 ADVICE). TrieMap.replace keys
            // the swap on the exact registration we read.
            val loadedGen = CubeGenerations.genNumberOf(fresh.cubePath)
            val registered = cubes.get(cube.info.name)
            registered match {
              case Some(reg)
                  if CubeGenerations.genNumberOf(reg.cubePath) >= loadedGen =>
                reg
              case Some(reg) =>
                if (cubes.replace(cube.info.name, reg, fresh)) fresh
                else cubes.getOrElse(cube.info.name, fresh)
              case None =>
                cubes.put(cube.info.name, fresh)
                fresh
            }
          case _ => cube
        } catch { case scala.util.control.NonFatal(_) => cube }
    }
  }
  def isEmpty: Boolean = cubes.isEmpty

  /** Normalize a Hadoop path/URI to a bare filesystem path for matching. */
  def normalizePath(p: String): String = {
    val uri = new java.net.URI(p)
    val path = if (uri.getScheme == null) p else uri.getPath
    path.stripSuffix("/")
  }

  /** Physical-table name of a scan leaf, if it is a base table of some
    * registered cube.
    */
  def tableOf(cube: RegisteredCube, lr: LogicalRelation): Option[String] =
    lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.headOption
          .flatMap(p => cube.tableForPath(normalizePath(p.toString)))
      case _ => None
    }

  /** Is this scan leaf the materialized cube itself? */
  def cubeOfRelation(lr: LogicalRelation): Option[RegisteredCube] =
    lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.headOption.map(p => normalizePath(p.toString))
          .flatMap(p => all.find(c => normalizePath(c.cubePath) == p))
      case _ => None
    }

  /** Analyzed scan plans are cached per path — building one costs a
    * parquet file listing + footer schema inference, and the rewrite rules
    * ask for one on every matching plan node. Each caller still gets fresh
    * expression ids (`newInstance`), so one query can host several
    * rewrites without attribute collisions. Invalidation: paths are
    * immutable once materialized (versioned directory names), so entries
    * never go stale.
    */
  private val planCache = TrieMap.empty[String, LogicalPlan]

  /** Drop the cached analyzed scan for a path whose files were rewritten in
    * place (incremental refresh) — the cached plan's file index lists the
    * replaced files eagerly and would fail with FILE_NOT_EXIST.
    */
  def invalidatePlan(path: String): Unit = { planCache.remove(path); () }

  private def analyzedScan(spark: SparkSession, path: String): LogicalPlan = {
    val base = planCache.getOrElseUpdate(path, analyzed(spark, path))
    base.transform {
      case lr: LogicalRelation => lr.newInstance()
    }
  }

  private def analyzed(spark: SparkSession, path: String): LogicalPlan =
    read(spark, path).asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed

  /** Cache the analyzed scan of a freshly published directory, so the
    * first query after a refresh neither lists it nor reads a footer.
    */
  def prime(spark: SparkSession, path: String): Unit = {
    planCache.put(path, analyzed(spark, path)); ()
  }

  /** A parquet directory the engine wrote (cube, lattice node), read with
    * the schema Spark recorded in one data file's footer: Spark's own
    * inference of a parquet schema runs a job even for one file, and
    * every file of these directories was written with the same schema.
    * Partition columns are discovered from the directory names as usual.
    * Falls back to inference when no file carries a recorded schema.
    */
  def read(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame =
    dataSchema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** The rows of some leaf directories (relative paths) of such a
    * directory, with the partition columns their paths name.
    */
  private[cube] def readLeaves(spark: SparkSession, path: String,
                               leaves: Seq[String]): org.apache.spark.sql.DataFrame = {
    val r = spark.read.option("basePath", path)
    dataSchema(spark, path).fold(r)(r.schema)
      .parquet(leaves.map(l => new java.io.File(path, l).getPath): _*)
  }

  private def dataSchema(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] =
    StarListing.dataFiles(java.nio.file.Paths.get(path)).headOption
      .filter(f => java.nio.file.Files.isRegularFile(f)).flatMap { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), spark.sessionState.newHadoopConf()))
        try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
            .get("org.apache.spark.sql.parquet.row.metadata"))
          .map(org.apache.spark.sql.types.DataType.fromJson(_)
            .asInstanceOf[org.apache.spark.sql.types.StructType])
        finally reader.close()
      }

  /** A fresh logical plan over the materialized cube (new expression ids per
    * call, so one query can host several rewrites).
    */
  def cubePlan(spark: SparkSession, cube: RegisteredCube): LogicalPlan =
    analyzedScan(spark, cube.cubePath)

  /** A fresh logical plan over a cube's rollup table. */
  def rollupPlan(spark: SparkSession, rollup: RollupMeta): LogicalPlan =
    analyzedScan(spark, rollup.path)
}
