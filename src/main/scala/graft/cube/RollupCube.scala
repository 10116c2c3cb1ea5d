package graft.cube

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Pre-aggregated rollup of the flat TPC-H cube — the Spark-native
  * equivalent of a rolled-up Druid index (reference: rows are rollups
  * carrying a `count` metric, `AggregateTransform.scala:331-347`; merge
  * table `PostAggregate.scala:39-60`).
  *
  * One row per (time bucket, dimension tuple); metrics are stored
  * *re-aggregable*:
  *   - `cnt`           — row count          → merges as `sum(cnt)`
  *   - `sum_*`         — DECIMAL sums       → merge as `sum(sum_*)`, exact
  *                       regardless of partial/final split or bucket layout
  *   - `custkey_hll`   — HLL sketch binary  → merges with `hll_union_agg`
  * `avg` is answered as `sum(sum_x) / sum(cnt)` (the reference's avg
  * decomposition, `AggregateTransform.scala:426-442`).
  *
  * At 100 TB the rollup is orders of magnitude smaller than the fact table
  * (|dims| × buckets rows), so any query whose grouping is a subset of the
  * rollup dims scans the small table and still gets exact sums/counts and
  * mergeable distinct sketches.
  */
object RollupCube {

  /** Rollup dimension columns (subsets of these are servable). */
  val dims: Seq[String] = Seq("c_mktsegment", "l_returnflag", "s_nation", "c_nation")

  /** Source metric -> rollup sum column. */
  val sumMetrics: Map[String, String] = Map(
    "l_quantity"      -> "sum_qty",
    "l_extendedprice" -> "sum_price",
    "l_discount"      -> "sum_disc")

  /** Rollup min/max metric columns (min_/max_ + the sum column suffix). */
  val minMetrics: Map[String, String] = sumMetrics.map { case (s, d) => s -> ("min_" + d.stripPrefix("sum_")) }
  val maxMetrics: Map[String, String] = sumMetrics.map { case (s, d) => s -> ("max_" + d.stripPrefix("sum_")) }

  /** k of the stored custkey KMV sketch. Sized so the sketch stays EXACT
    * (never saturates) well past the bench scale factors: storage grows
    * with the true per-group distinct count, not with k, so a generous k
    * costs nothing until groups actually hold ~64k distinct customers.
    */
  val kmvK: Int = 65536

  /** Source metric -> stored quantile sketch column. Percentiles cannot be
    * re-aggregated from sums; the gated value-buffer sketch
    * ([[org.apache.spark.sql.graft.QuantileSketch]]) serves them EXACTLY
    * below its capacity and refuses (NULL) above it.
    */
  val quantileMetrics: Map[String, String] = Map("l_extendedprice" -> "price_qsk")

  /** Value capacity of the stored quantile sketches. */
  val quantileK: Int = org.apache.spark.sql.graft.QuantileSketch.DefaultK

  /** Source column -> stored heavy-hitters (Misra-Gries) sketch column —
    * the reference's approximate-TopN query served as a *metric*
    * (`DruidQuerySpec.scala:767-868`): "top suppliers per segment" merges
    * per-cell sketches instead of re-scanning facts. Exact (err = 0) while
    * a merged group's supplier NDV stays below [[freqK]].
    */
  val freqMetrics: Map[String, String] = Map("l_suppkey" -> "suppkey_freq")

  /** Counter capacity of the stored heavy-hitters sketches. Sized like
    * [[kmvK]]: generously above the dimension's NDV at bench scale, so the
    * sketches never decrement (storage grows with true per-cell NDV, not k).
    */
  val freqK: Int = 8192

  /** (dim, weight metric, stored column) — weighted heavy hitters: per-item
    * exact-micros sums of the metric, serving `GROUP BY dim` + `sum(metric)`
    * TopN (Druid topN over an arbitrary sum aggregator) without a fact scan.
    */
  val freqWeightedMetrics: Seq[(String, String, String)] =
    Seq(("l_suppkey", "l_extendedprice", "suppkey_price_freq"))

  /** Coarse-rollup dimensions — the lattice node above [[dims]]. */
  val coarseDims: Seq[String] = Seq("c_mktsegment", "l_returnflag")

  /** Q7-shape lattice node (supplier nation x customer nation). */
  val nationsDims: Seq[String] = Seq("s_nation", "c_nation")

  /** Dim-slice lattice node (market segment x supplier nation) — the
    * "SubQry+filters+range" benchmark shape (the reference's 357x headline,
    * `BenchMarkDetails.org:144`): segment + nation predicates with a time
    * interval answer from |segments| x |nations| x buckets cells.
    */
  val sliceDims: Seq[String] = Seq("c_mktsegment", "s_nation")

  /** TPC-H Q1 lattice node (pricing summary: returnflag × linestatus). */
  val q1Dims: Seq[String] = Seq("l_returnflag", "l_linestatus")

  /** Q3-shape PROJECTION node — order-key grain. The Q3 shape
    * (`GROUP BY l_orderkey, o_orderdate` under segment + two date
    * predicates) groups at near-fact cardinality, so no coarse rollup can
    * serve it; the reference answered it from its raw-grain Druid index
    * with inverted indexes (25×, `BenchMarkDetails.org:146` — every column
    * indexed, no pre-aggregation advantage, `:685-699`). The Spark-native
    * analog is a *projection index*: the same day-grain rows, but only the
    * five key columns + re-aggregable metrics (a fraction of the flat
    * cube's width), pre-joined, Hive-partitioned by `c_mktsegment` under
    * the ship-month dir so the segment equality prunes 4/5 of the node at
    * directory level, with the ship-day bucket column giving exact
    * day-literal translation + row-group skipping inside each month.
    */
  val q3Dims: Seq[String] = Seq("l_orderkey", "o_orderdate", "c_mktsegment")

  /** SECONDARY-TIME lattice nodes ([[RollupMeta.timeColumn]]): bucketed by
    * month-of-`o_orderdate` instead of the cube's ship-date. An order-date
    * interval (the Q5 shape: region + same-nation predicates over an
    * order-date year) or an order-year grouping (the Q8 shape: market
    * share by order year under region/part-type predicates) cannot be
    * narrowed by ship-date nodes at all — these two serve them from
    * |dims| × order-months cells. Metrics are the lean re-aggregable core
    * (count + DECIMAL sums + derived sums + min/max); no sketches — the
    * cells stay pennies to build and scan.
    */
  val ordersNationsDims: Seq[String] =
    Seq("s_nation", "s_region", "c_nationkey", "s_nationkey")
  val marketDims: Seq[String] = Seq("p_type", "s_nation", "c_region")

  /** Derived metrics materialized at rollup build — computed measures over
    * the fact columns, stored as re-aggregable DECIMAL sums (the rollup
    * analog of Druid's ingestion-time derived metric columns). The plan
    * matcher ([[graft.plans.RollupRouting]]) recognizes `sum(<expr>)` by
    * structural equality against [[derivedExpr]] built over the scan's own
    * attributes, so the definitions here are the single source of truth.
    */
  val derivedSums: Map[String, String] = Map(
    "disc_price" -> "sum_disc_price",  // l_extendedprice * (1.0 - l_discount)
    "charge"     -> "sum_charge")      // ... * (1.0 + l_tax)

  /** Catalyst tree of a derived metric over attribute refs supplied by
    * name; also used (via the Column DSL twin below) at build time.
    */
  def derivedExpr(key: String, attr: String => org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Multiply, Subtract, Add}
    key match {
      case "disc_price" =>
        Multiply(attr("l_extendedprice"), Subtract(Literal(1.0), attr("l_discount")))
      case "charge" =>
        Multiply(
          Multiply(attr("l_extendedprice"), Subtract(Literal(1.0), attr("l_discount"))),
          Add(Literal(1.0), attr("l_tax")))
    }
  }

  private[cube] def derivedCol(key: String): Column = key match {
    case "disc_price" => col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    case "charge" =>
      col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))
  }

  /** Root directory of one lattice node for `sfDir`. v10: every node is
    * built by the generic [[RollupBuild.materialize]] from the flat cube.
    */
  private def nodePath(sfDir: String, node: String): String =
    s"${graft.Graft.targetDir}/cubes/tpch_${new java.io.File(sfDir).getName}_" +
      s"${Tables.contentTag(sfDir)}_rollup_${node}_v10"

  def rollupPath(sfDir: String): String = nodePath(sfDir, "fine")
  def coarsePath(sfDir: String): String = nodePath(sfDir, "coarse")
  def nationsPath(sfDir: String): String = nodePath(sfDir, "nations")
  def slicePath(sfDir: String): String = nodePath(sfDir, "slice")
  def q1Path(sfDir: String): String = nodePath(sfDir, "rf_ls")
  def q3Path(sfDir: String): String = nodePath(sfDir, "okey")
  def ordersNationsPath(sfDir: String): String = nodePath(sfDir, "onations")
  def marketPath(sfDir: String): String = nodePath(sfDir, "omarket")

  def meta(sfDir: String): RollupMeta = RollupMeta(
    path = rollupPath(sfDir),
    dims = dims,
    timeBucketColumn = "g_tbucket",
    countColumn = "cnt",
    sums = sumMetrics,
    mins = minMetrics,
    maxs = maxMetrics,
    kmvSketches = Map("o_custkey" -> "custkey_kmv"),
    hllSketches = Map("o_custkey" -> "custkey_hll"),
    kmvK = kmvK,
    derivedSums = derivedSums,
    quantileSketches = quantileMetrics,
    quantileK = quantileK,
    freqSketches = freqMetrics,
    freqK = freqK,
    freqWeighted = freqWeightedMetrics)

  def coarseMeta(sfDir: String): RollupMeta =
    meta(sfDir).copy(path = coarsePath(sfDir), dims = coarseDims)

  // partitioned by s_nation under the bucket: the Q7 shape's nation-pair
  // disjunction extracts `s_nation IN (a, b)` (Catalyst's
  // extractPredicatesWithinOutputSet over the OR), so the scan reads
  // 2/|nations| of the node — the reference's 82× query
  // (BenchMarkDetails.org:148) was dim-predicate-bound, not time-bound
  def nationsMeta(sfDir: String): RollupMeta =
    meta(sfDir).copy(path = nationsPath(sfDir), dims = nationsDims,
      partitionDims = Seq("s_nation"))

  def sliceMeta(sfDir: String): RollupMeta =
    meta(sfDir).copy(path = slicePath(sfDir), dims = sliceDims)

  /** The Q1 node is DAY grain (Druid `queryGranularity=DAY`, what the
    * reference's benchmark datasource used): TPC-H interval predicates are
    * date literals — day-aligned, rarely month-aligned — so only a daily
    * bucket can answer them exactly from pre-aggregates. `g_tbucket` stays
    * in the dim list (derivable from the day, so the group count is
    * unchanged) for file-partition alignment and month-predicate serving.
    */
  // no freq sketch on the day-grain node: |days| x 6 cells each carrying a
  // full supplier count map would dwarf the node itself, and TopN queries
  // are month-grain — per-node metric config is the point of RollupMeta
  def q1Meta(sfDir: String): RollupMeta =
    meta(sfDir).copy(path = q1Path(sfDir), dims = q1Dims :+ "g_tbucket",
      timeBucketColumn = "g_dbucket", grain = "day",
      freqSketches = Map.empty, freqWeighted = Nil)

  /** Order-key projection node: day grain like [[q1Meta]] (ship-day bucket
    * column inside ship-month dirs), metrics limited to the lean
    * re-aggregable core — at order-key grain any sketch column would dwarf
    * the node itself, and the shape it serves needs only sums.
    */
  def q3Meta(sfDir: String): RollupMeta =
    meta(sfDir).copy(path = q3Path(sfDir), dims = q3Dims :+ "g_tbucket",
      timeBucketColumn = "g_dbucket", grain = "day",
      partitionDims = Seq("c_mktsegment"),
      clusterDims = Seq("o_orderdate"),
      kmvSketches = Map.empty, hllSketches = Map.empty,
      quantileSketches = Map.empty, freqSketches = Map.empty,
      freqWeighted = Nil)

  /** Lean secondary-time node: count + sums + derived + min/max, no
    * sketches, bucketed by month-of-`o_orderdate`.
    */
  private def ordersMeta(sfDir: String, nodeDims: Seq[String],
                         path: String,
                         partitionDims: Seq[String] = Nil,
                         clusterDims: Seq[String] = Nil): RollupMeta = RollupMeta(
    path = path, dims = nodeDims,
    timeBucketColumn = "g_obucket", countColumn = "cnt",
    sums = sumMetrics, mins = minMetrics, maxs = maxMetrics,
    derivedSums = derivedSums, timeColumn = Some("o_orderdate"),
    partitionDims = partitionDims, clusterDims = clusterDims)

  // each secondary-time node partitions under its bucket by the region
  // column its serving shape filters on (Q5: s_region, Q8: c_region) —
  // 5-way leaf dirs, so an equality predicate partition-prunes 4/5 of
  // the node before any row group is opened
  def ordersNationsMeta(sfDir: String): RollupMeta =
    ordersMeta(sfDir, ordersNationsDims, ordersNationsPath(sfDir),
      partitionDims = Seq("s_region"))

  def marketMeta(sfDir: String): RollupMeta =
    ordersMeta(sfDir, marketDims, marketPath(sfDir),
      partitionDims = Seq("c_region"), clusterDims = Seq("p_type"))

  /** The TPC-H lattice, in build order. The fine node comes first: it
    * carries every sketched column, so its exact-NDV measurement is the
    * only one, and every later node carries its proofs.
    */
  def metas(sfDir: String): Seq[RollupMeta] =
    Seq(meta(sfDir), coarseMeta(sfDir), sliceMeta(sfDir), q1Meta(sfDir),
      nationsMeta(sfDir), marketMeta(sfDir), ordersNationsMeta(sfDir), q3Meta(sfDir))

  private val lock = new Object

  /** Materialize (once per scale factor) the flat cube and every node of
    * the lattice through the generic build, and attach them so
    * [[graft.plans.RollupRouting]] serves matching aggregates from them.
    * Returns the fine node's current generation directory.
    */
  def ensure(spark: SparkSession, sfDir: String): String = lock.synchronized {
    val cube = TpchCube.ensure(spark, sfDir)
    metas(sfDir).foreach(RollupBuild.materialize(spark, cube.info.name, _))
    CubeGenerations.currentDir(rollupPath(sfDir))
  }

  /** Serve a grouped aggregate from the rollup: `groupCols` must be a
    * subset of [[dims]] (+ `g_tbucket`). Supported requests per metric:
    * sum / avg (decomposed) / count / approx distinct custkeys.
    */
  def reaggregate(spark: SparkSession, sfDir: String,
                  groupCols: Seq[String], aggs: Seq[Column]): DataFrame = {
    require(groupCols.forall(c => dims.contains(c) || c == "g_tbucket"),
      s"rollup serves only ${dims.mkString(",")}; got ${groupCols.mkString(",")}")
    ensure(spark, sfDir)
    // lattice walk: serve from the coarse rollup when its dims suffice
    val path =
      if (groupCols.forall(c => coarseDims.contains(c) || c == "g_tbucket"))
        coarsePath(sfDir)
      else rollupPath(sfDir)
    val node = CubeCatalog.all.flatMap(_.rollups)
      .find(r => CubeGenerations.rootOf(r.path) == path)
    val served = CubeCatalog.read(spark, CubeGenerations.currentDir(path))
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    // `avg` merges as sum(sum_x) / sum(cnt), which counts a NULL x in the
    // denominator: sound only when the node proves x has no NULL
    merge.avgSources(served.columns).foreach { src =>
      val nulls = node.flatMap(_.exactNullCount.get(src))
      if (!nulls.contains(0L)) throw new IllegalStateException(
        s"avg of $src from the rollup at $path needs a proved NULL count of 0, " +
          s"found ${nulls.fold("none")(_.toString)}: aggregate the flat cube instead")
    }
    served
  }

  /** Merged metric expressions for use with [[reaggregate]]. */
  object merge {
    /** count(*) over raw rows == sum of rollup counts. */
    def cnt: Column = sum(col("cnt")).as("cnt")
    /** Exact sum of a source metric (decimal-merged, cast back to double). */
    def sumOf(sourceCol: String): Column =
      sum(col(sumMetrics(sourceCol))).cast("double").as(sumMetrics(sourceCol))
    /** Exact avg of a source metric: sum(sums) / sum(counts). The decimal
      * sum is cast to double *before* dividing so the arithmetic matches a
      * `CAST(sum(..) AS DOUBLE) / count(*)` oracle bit for bit.
      */
    def avgOf(sourceCol: String): Column =
      (sum(col(sumMetrics(sourceCol))).cast("double") / sum(col("cnt")))
        .as(avgName(sourceCol))
    private def avgName(sourceCol: String) = "avg_" + sumMetrics(sourceCol).stripPrefix("sum_")
    /** Source metrics of the [[avgOf]] columns among `columns`. */
    private[cube] def avgSources(columns: Seq[String]): Seq[String] =
      sumMetrics.keys.filter(s => columns.contains(avgName(s))).toSeq.sorted
    /** Approximate distinct customers from merged HLL sketches. */
    def customers: Column =
      hll_sketch_estimate(hll_union_agg(col("custkey_hll"))).as("n_cust_approx")
    /** Distinct customers from merged KMV (theta-style) sketches — exact
      * whenever the true distinct count is below the sketch's k, so unlike
      * the HLL column this one is DuckDB-oracle-testable at small SF.
      */
    def customersTheta: Column =
      org.apache.spark.sql.graft.KmvSketch
        .kmvMergeEstimate(col("custkey_kmv"), kmvK).as("n_cust")
    /** Percentile of a source metric from merged quantile sketches — exact
      * below the sketch capacity, NULL (an explicit refusal, never a wrong
      * number) once the merged group saturates.
      */
    def percentileOf(sourceCol: String, p: Double): Column =
      org.apache.spark.sql.graft.QuantileSketch
        .qskPercentile(col(quantileMetrics(sourceCol)), p, quantileK)
        .as("p" + (p * 100).round + "_" + quantileMetrics(sourceCol).stripSuffix("_qsk"))
    /** Heavy hitters of a sketched dimension from merged Misra-Gries
      * sketches — Druid's approximate TopN served from pre-aggregates.
      * Returns array<struct<item,cnt,err>> heaviest-first; `err` = 0 means
      * the counts (and hence the ranking) are exact, the guarantee while
      * the merged group's NDV stays below [[freqK]].
      */
    def freqItemsOf(sourceCol: String): Column =
      org.apache.spark.sql.graft.FreqSketch
        .freqMergeItems(col(freqMetrics(sourceCol)), freqK)
        .as("top_" + freqMetrics(sourceCol).stripSuffix("_freq"))
  }
}
