package graft.cube

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generic rollup materialization for ANY registered cube — the lattice's
  * user-facing API. Declare a [[RollupMeta]] (dimensions, count/sum/min/max
  * metrics, HLL/KMV/quantile/heavy-hitter sketch columns) and this
  *
  *   1. builds the node from the materialized flat cube with the same
  *      meta-driven aggregate shapes and write layout [[CubeRefresh]] uses
  *      for incremental rebuilds (so refresh keeps custom nodes current too),
  *   2. records the exactness proofs the lossless rewrites require —
  *      exact NDV and NULL counts of every sketched column, NULL counts of
  *      every summed column, total fact rows for the quantile saturation
  *      gate — once per cube generation (see [[withProofs]]),
  *   3. attaches the node to the catalog and descriptor sidecar,
  *      coarsest-first (fewest dims), so [[graft.plans.RollupRouting]]
  *      serves matching aggregates from it automatically.
  *
  * [[RollupCube]] (the TPC-H lattice) is one set of descriptors over it;
  * EventsCubeSpec drives the same path over a single-table events cube.
  * At 100 TB this is the "declare an index" operation: one pass over the
  * facts per node, everything downstream is metadata.
  */
object RollupBuild {

  def materialize(spark: SparkSession, cubeName: String,
                  ru0: RollupMeta): RegisteredCube = {
    val cube = CubeCatalog.get(cubeName).getOrElse(throw new IllegalArgumentException(
      s"no registered cube named $cubeName — materialize/attach the cube first"))
    // builds and proofs run with rewrites OFF: the measurement must never
    // route through the sketches it is meant to vouch for
    graft.Graft.withoutRewrites(spark) {
      def flat = CubeCatalog.read(spark, cube.cubePath)
      // attach the node's CURRENT generation (CubeGenerations) — after a
      // refresh the serving dir is a `.gen-N` sibling of the build root
      val ru0r = ru0.copy(path = CubeGenerations.currentDir(ru0.path))
      if (!new java.io.File(ru0r.path, "_SUCCESS").exists())
        CubeRefresh.writeNode(CubeRefresh.buildNode(flat, cube.info, ru0r),
          cube.info, ru0r, ru0r.path, dynamic = false)
      val ru = withProofs(spark, cube, flat, ru0r)
      val attached = cube.copy(rollups =
        (cube.rollups.filterNot(_.path == ru.path) :+ ru)
          .sortBy(_.dims.size))
      CubeCatalog.register(attached)
      CubeMeta.save(attached)
      attached
    }
  }

  /** Auto-indexing: turn a workload-driven [[RollupAdvisor.Recommendation]]
    * into a materialized, attached lattice node. Metrics default to every
    * Metric-role column of the cube (count + sum/min/max) so any mergeable
    * aggregate the workload used is covered; recommended sketch columns
    * become KMV sketches whose exactness proofs are measured at build. The
    * full loop — `RollupAdvisor.recommend(workload).map(fromRecommendation)`
    * — is the operator's "index my workload" command: after it, the
    * analyzed queries stop touching the fact table entirely.
    */
  def fromRecommendation(spark: SparkSession, cubeName: String,
                         rec: RollupAdvisor.Recommendation,
                         path: String): RegisteredCube =
    materialize(spark, cubeName,
      defaultMeta(cubeName, rec.dims, rec.sketchCols, path))

  /** The default node shape for a dimension set: count + sum/min/max of
    * every Metric-role column (covering all mergeable aggregates) and a KMV
    * sketch per requested distinct-count column. Shared by
    * [[fromRecommendation]] and the `MATERIALIZE GRAFT ROLLUP` SQL command.
    */
  def defaultMeta(cubeName: String, dims: Seq[String],
                  sketchCols: Seq[String], path: String,
                  partitionDims: Seq[String] = Nil,
                  clusterDims: Seq[String] = Nil): RollupMeta = {
    val cube = CubeCatalog.get(cubeName).getOrElse(throw new IllegalArgumentException(
      s"no registered cube named $cubeName — materialize/attach the cube first"))
    require(partitionDims.forall(dims.contains),
      s"PARTITION BY columns must be node dimensions; got ${partitionDims.mkString(",")}")
    require(clusterDims.forall(dims.contains),
      s"CLUSTER BY columns must be node dimensions; got ${clusterDims.mkString(",")}")
    val metrics = cube.info.columns
      .filter(_.role == ColumnRole.Metric).map(_.name)
    RollupMeta(
      path = path,
      dims = dims,
      timeBucketColumn = cube.info.timeBucketColumn,
      countColumn = "cnt",
      sums = metrics.map(m => m -> s"sum_$m").toMap,
      mins = metrics.map(m => m -> s"min_$m").toMap,
      maxs = metrics.map(m => m -> s"max_$m").toMap,
      kmvSketches = sketchCols.map(c => c -> s"${c}_kmv").toMap,
      partitionDims = partitionDims,
      clusterDims = clusterDims)
  }

  /** A node's exactness proofs, measured once per cube generation. The
    * row total and the NULL counts of the sketched and summed columns of
    * every node of the cube's generation come from the cube's bucket
    * footers; an exact NDV is measured only for a sketched column that no
    * node of that generation carries yet. A summed column's NULL count is
    * what the `avg` merge requires to be 0 ([[graft.plans.RollupRouting]]).
    */
  private def withProofs(spark: SparkSession, cube: RegisteredCube,
                         flat: => DataFrame, ru: RollupMeta): RollupMeta = {
    val info = cube.info
    val footers = BucketFooters.totals(spark, cube.cubePath,
      info.timeBucketColumn, info.timeColumn)
    val carriedNdv = cube.rollups.flatMap(_.kmvExactNdv).toMap
    val sketched = CubeRefresh.sketchedColumns(Seq(ru))
    val nullCols = CubeRefresh.provedNullColumns(cube.rollups :+ ru)
    val footerNulls = footers.nulls.filter { case (c, _) => nullCols.contains(c) }
    val (ndv, nulls) = CubeRefresh.exactCounts(flat,
      sketched.filterNot(carriedNdv.contains), nullCols.filterNot(footerNulls.contains))
    ru.copy(kmvExactNdv = ru.kmvExactNdv ++ carriedNdv ++ ndv,
      exactNullCount = ru.exactNullCount ++ footerNulls ++ nulls,
      totalRows = Some(footers.rowsByBucket.values.sum))
  }
}
