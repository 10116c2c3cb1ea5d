package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables.dsum
import graft.cube._
import graft.sources.CubeSource

/** [[RollupBuild.materialize]] is the user-facing "declare an index"
  * operation: given any registered cube and a [[RollupMeta]] declaration it
  * builds the lattice node, measures the exactness proofs (exact NDV / NULL
  * counts / total rows) that gate the lossless sketch serves, and attaches
  * the node so [[graft.plans.RollupRouting]] serves matching aggregates
  * automatically. This spec drives it over the single-table events cube —
  * the same generic path a user would take for their own schema.
  */
class RollupBuildSpec extends AnyFunSuite {
  import TestSpark._

  private val base = "/root/repo/target/cubes/rollup_build_spec"

  private def cubeInfo = CubeInfo(
    name = "events_cube_rb",
    timeColumn = "ts",
    columns = Seq(
      CubeColumn("event_id", ColumnRole.Dimension),
      CubeColumn("ts", ColumnRole.Time),
      CubeColumn("user_id", ColumnRole.Dimension),
      CubeColumn("event_type", ColumnRole.Dimension),
      CubeColumn("value", ColumnRole.Metric)),
    starSchema = StarSchema("events", Nil),
    roleOfTable = Map("events" -> Seq("events")),
    columnMapping = Seq("event_id", "ts", "user_id", "event_type", "value")
      .map(c => ("events", c) -> c).toMap)

  test("materialize builds, proves, attaches and serves a declared node") {
    val src = s"$base/src"
    if (!new java.io.File(src, "_SUCCESS").exists())
      Tables.events(spark, sf).drop("props")
        .write.mode("overwrite").parquet(src)
    val cube = CubeSource.materialize(spark, cubeInfo, Map("events" -> src),
      s"$base/cube")
    try {
      val node = RollupMeta(
        path = s"$base/ru_type",
        dims = Seq("event_type"),
        timeBucketColumn = cube.info.timeBucketColumn,
        countColumn = "cnt",
        sums = Map("value" -> "sum_value"),
        mins = Map("value" -> "min_value"),
        maxs = Map("value" -> "max_value"),
        kmvSketches = Map("user_id" -> "user_kmv"))
      val attached = RollupBuild.materialize(spark, "events_cube_rb", node)

      // 1. proofs were measured and stored on the attached node
      val ru = attached.rollups.find(_.path == node.path).get
      assert(ru.kmvExactNdv.contains("user_id"))
      assert(ru.exactNullCount.get("user_id").contains(0L))
      assert(ru.totalRows.exists(_ > 0L))

      // 2. a matching aggregate routes to the node (scan of ru.path), and
      val q = spark.read.parquet(s"$base/cube")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"),
          count_distinct(col("user_id")).as("users"))
      val classic = q.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      val scansNode = classic.queryExecution.optimizedPlan.exists {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains("ru_type"))
            case _ => false
          }
        case _ => false
      }
      assert(scansNode, "declared node should serve the matching aggregate")

      // 3. served results — including count(DISTINCT) from the KMV sketch
      //    under the measured-NDV proof — are bit-identical to vanilla
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      val routed = rows(q)
      val vanilla = Graft.withoutRewrites(spark) {
        rows(spark.read.parquet(s"$base/cube")
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"),
            count_distinct(col("user_id")).as("users")))
      }
      assert(routed == vanilla)
      assert(routed.nonEmpty)

      // 4. re-materialize is idempotent (no duplicate node, no rebuild)
      val again = RollupBuild.materialize(spark, "events_cube_rb", node)
      assert(again.rollups.count(_.path == node.path) == 1)
    } finally CubeCatalog.unregister("events_cube_rb")
  }

  test("CubeRefresh keeps a declared custom node current after late arrivals") {
    val base2 = s"$base/refresh"
    val src = s"$base2/src"
    val events = Tables.events(spark, sf).drop("props")
    // initial load: first half of January (sf0.001 events all fall in Jan)
    events.filter(col("ts") < lit("2024-01-15").cast("timestamp"))
      .write.mode("overwrite").parquet(src)
    val info = cubeInfo.copy(name = "events_cube_refresh")
    val cube = CubeSource.materialize(spark, info, Map("events" -> src),
      s"$base2/cube")
    try {
      val node = RollupMeta(
        path = s"$base2/ru",
        dims = Seq("event_type"),
        timeBucketColumn = cube.info.timeBucketColumn,
        countColumn = "cnt",
        sums = Map("value" -> "sum_value"),
        mins = Map.empty, maxs = Map.empty)
      RollupBuild.materialize(spark, info.name, node)

      // late + new data arrives in the fact source
      events.filter(col("ts") >= lit("2024-01-15").cast("timestamp"))
        .write.mode("append").parquet(src)
      val result = CubeRefresh.refresh(spark,
        CubeCatalog.get(info.name).get,
        CubeSource.flatten(spark, info, Map("events" -> src)))
      assert(result.dirtyBuckets.nonEmpty)

      // the custom node now reproduces a full-fact aggregate exactly —
      // read through the REFRESHED registration: a refresh publishes a
      // new generation dir, never mutates the old one (CubeGenerations)
      val nodePath = result.refreshed.rollups
        .find(r => graft.cube.CubeGenerations.rootOf(r.path) == node.path)
        .map(_.path).getOrElse(node.path)
      val served = Graft.withoutRewrites(spark) {
        spark.read.parquet(nodePath)
          .groupBy("event_type")
          .agg(sum("cnt").as("cnt"),
            sum("sum_value").cast("double").as("sum_value"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          .sortBy(_._1).toSeq
      }
      val want = Graft.withoutRewrites(spark) {
        spark.read.parquet(src)
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
          .sortBy(_._1).toSeq
      }
      assert(served == want && served.nonEmpty)
    } finally {
      CubeCatalog.unregister(info.name)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base2))
    }
  }

  test("advisor recommendation materializes and serves its own workload") {
    val src = s"$base/src"
    if (!new java.io.File(src, "_SUCCESS").exists())
      Tables.events(spark, sf).drop("props")
        .write.mode("overwrite").parquet(src)
    // a cube of its own: the first test's node stays attached to $base/cube
    // (re-materializing a cube keeps its nodes), and it would serve this
    // workload just as well
    val cube = CubeSource.materialize(spark, cubeInfo, Map("events" -> src),
      s"$base/cube_advised")
    try {
      spark.read.parquet(s"$base/cube_advised").createOrReplaceTempView("ev_rb")
      val workload = Seq(
        "SELECT event_type, count(*) AS cnt FROM ev_rb GROUP BY 1",
        "SELECT event_type, count(DISTINCT user_id) AS users FROM ev_rb GROUP BY 1")
      val recs = RollupAdvisor.recommend(spark, cube, workload)
      assert(recs.nonEmpty)
      val rec = recs.head
      assert(rec.queriesServed == 2)
      assert(rec.sketchCols == Seq("user_id"))

      val attached = RollupBuild.fromRecommendation(
        spark, "events_cube_rb", rec, s"$base/ru_auto")
      val ru = attached.rollups.find(_.path == s"$base/ru_auto").get
      assert(ru.kmvExactNdv.contains("user_id"))

      // the workload's distinct-count query now routes to the built node
      val q = spark.read.parquet(s"$base/cube_advised")
        .groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("users"))
      val classic = q.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      val scansNode = classic.queryExecution.optimizedPlan.exists {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toString.contains("ru_auto"))
            case _ => false
          }
        case _ => false
      }
      assert(scansNode, "advised node should serve the advising workload")
      val routed = q.collect().map(_.toString).sorted.toSeq
      val vanilla = Graft.withoutRewrites(spark) {
        spark.read.parquet(s"$base/cube_advised")
          .groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("users"))
          .collect().map(_.toString).sorted.toSeq
      }
      assert(routed == vanilla && routed.nonEmpty)
    } finally CubeCatalog.unregister("events_cube_rb")
  }
}
