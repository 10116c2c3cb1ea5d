package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cube._
import graft.sources.CubeSource

/** The one cube and lattice build path: [[CubeSource.materialize]] keeps a
  * cube's nodes, [[RollupBuild.materialize]] measures a generation's proofs
  * once, and the `avg` merge is gated by the NULL-count proof it records.
  * Driven over a single-table events cube, like any user schema.
  */
class CubeBuildPathSpec extends AnyFunSuite {
  import TestSpark._

  private val base = s"${Graft.targetDir}/cubes/build_path_spec"

  private def info(name: String) = CubeInfo(
    name = name,
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

  /** A fresh events source under `dir` (its first event's value NULL when
    * `nullValue`), with `value` a double like every rolled-up metric.
    */
  private def source(dir: String, nullValue: Boolean = false): String = {
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    val events = Tables.events(spark, sf).drop("props")
      .withColumn("value", col("value").cast("double"))
    val first = events.agg(min(col("event_id"))).head().get(0)
    (if (!nullValue) events
     else events.withColumn("value",
       when(col("event_id") === lit(first), lit(null).cast("double"))
         .otherwise(col("value"))))
      .write.mode("overwrite").parquet(s"$dir/src")
    s"$dir/src"
  }

  private def node(dir: String, dims: Seq[String]) = RollupMeta(
    path = s"$dir/node_${dims.mkString("_")}",
    dims = dims,
    timeBucketColumn = "g_tbucket",
    countColumn = "cnt",
    sums = Map("value" -> "sum_value"),
    mins = Map("value" -> "min_value"),
    maxs = Map("value" -> "max_value"),
    kmvSketches = Map("user_id" -> "user_kmv"))

  private def scans(df: DataFrame, path: String): Boolean =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.optimizedPlan
      .exists {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.exists(_.toUri.getPath.startsWith(path))
            case _ => false
          }
        case _ => false
      }

  test("a repeated materialize keeps the cube's nodes, also after unregister") {
    val dir = s"$base/keep"
    val src = source(dir)
    val name = "build_path_keep"
    CubeSource.materialize(spark, info(name), Map("events" -> src), s"$dir/cube")
    val built = RollupBuild.materialize(spark, name, node(dir, Seq("event_type")))
    val nodePath = built.rollups.map(_.path)
    assert(nodePath.size == 1)
    def check(cube: RegisteredCube, when: String): Unit = {
      assert(cube.rollups == built.rollups, s"returned nodes $when")
      assert(CubeCatalog.get(name).get.rollups == built.rollups, s"catalog nodes $when")
      assert(CubeMeta.load(cube.cubePath).get.rollups == built.rollups,
        s"descriptor nodes $when")
    }
    try {
      check(CubeSource.materialize(spark, info(name), Map("events" -> src), s"$dir/cube"),
        "after a second materialize")
      CubeCatalog.unregister(name)
      check(CubeSource.materialize(spark, info(name), Map("events" -> src), s"$dir/cube"),
        "after unregister")
    } finally CubeCatalog.unregister(name)
  }

  test("avg over a metric with a NULL value equals raw Spark") {
    val dir = s"$base/nullavg"
    val src = source(dir, nullValue = true)
    val name = "build_path_nullavg"
    CubeSource.materialize(spark, info(name), Map("events" -> src), s"$dir/cube")
    try {
      val ru = RollupBuild.materialize(spark, name, node(dir, Seq("event_type")))
        .rollups.head
      // double sums may differ in the last bit with the summation order
      def q(df: DataFrame): Map[Any, (Double, Long)] = df.groupBy("event_type")
        .agg(avg(col("value")).as("a"), count(lit(1)).as("cnt")).collect()
        .map(r => r.get(0) -> (r.getDouble(1), r.getLong(2))).toMap
      val served = q(spark.read.parquet(s"$dir/cube"))
      val raw = Graft.withoutRewrites(spark)(q(spark.read.parquet(src)))
      assert(raw.nonEmpty && served.keySet == raw.keySet)
      for ((k, (a, n)) <- raw)
        assert(served(k)._2 == n && math.abs(served(k)._1 - a) <= 1e-9 * math.abs(a),
          s"$k: served ${served(k)}, raw ${(a, n)}")
      // the proof the avg merge checks: recorded, and not 0
      assert(ru.exactNullCount.get("value").contains(1L))
      // the count alone still routes: only the avg merge needs the proof
      val cnt = spark.read.parquet(s"$dir/cube").groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
      assert(scans(cnt, ru.path), "count(*) should still be served from the node")
    } finally CubeCatalog.unregister(name)
  }

  test("a second node over the same generation measures no distinct count") {
    val dir = s"$base/proofs"
    val src = source(dir)
    val name = "build_path_proofs"
    CubeSource.materialize(spark, info(name), Map("events" -> src), s"$dir/cube")
    // SQL executions whose physical plan counts distinct values
    val distinctPlans = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
              if s.physicalPlanDescription.contains("count(distinct") ||
                s.physicalPlanDescription.contains("collect_set") =>
            distinctPlans.incrementAndGet(); ()
          case _ => ()
        }
    }
    def distinctJobsOf(body: => Unit): Int = {
      org.apache.spark.sql.graft.ListenerBusUtil.waitUntilEmpty(spark)
      distinctPlans.set(0)
      spark.sparkContext.addSparkListener(listener)
      try body
      finally {
        org.apache.spark.sql.graft.ListenerBusUtil.waitUntilEmpty(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
      distinctPlans.get()
    }
    try {
      val second = node(dir, Seq("event_type", "user_id"))
      // the first node measures the generation's exact NDV: the listener sees it
      assert(distinctJobsOf(
        RollupBuild.materialize(spark, name, node(dir, Seq("event_type")))) >= 1)
      assert(distinctJobsOf(RollupBuild.materialize(spark, name, second)) == 0)
      val ru = CubeCatalog.get(name).get.rollups.find(_.path == second.path).get
      val cube = spark.read.parquet(s"$dir/cube")
      val direct = Graft.withoutRewrites(spark)(cube.agg(
        countDistinct(col("user_id")), count(when(col("user_id").isNull, 1)),
        count(when(col("value").isNull, 1)), count(lit(1))).head())
      assert(ru.kmvExactNdv == Map("user_id" -> direct.getLong(0)))
      assert(ru.exactNullCount ==
        Map("user_id" -> direct.getLong(1), "value" -> direct.getLong(2)))
      assert(ru.totalRows.contains(direct.getLong(3)))
    } finally CubeCatalog.unregister(name)
  }
}
