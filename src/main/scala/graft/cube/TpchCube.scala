package graft.cube

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{expr, month, year}

import graft.Tables

/** The TPC-H flat cube over the driver testdata: cube descriptor, star
  * schema (with role-playing nation/region, mirroring the reference's
  * custnation/suppnation split — `BaseTest.scala:59-141`), and idempotent
  * materialization as a time-bucket-partitioned Parquet table.
  */
object TpchCube {

  import ColumnRole._
  import RelType._

  val CubeName = "tpch_flat"

  /** Partition bucket: months since epoch (UTC) of the time dimension. At
    * 100 TB this is the cube-build ETL's partitioning key; locally it makes
    * Catalyst partition-prune interval queries exactly like the reference's
    * Druid segment/interval selection.
    *
    * UTC-FIXED regardless of the session time zone (the reference pins its
    * extraction zone via `spark.sparklinedata.tz.id`,
    * `DruidPlanner.scala:73-76`; Druid segments are UTC): the instant's
    * epoch micros floor to a UTC day number, and `year`/`month` apply to
    * the resulting DateType value, which is time-zone-free. A session-TZ
    * `year(timestamp)` here would make a Kolkata-session build disagree
    * with [[bucketOfMicros]] by up to a month and silently drop rows.
    */
  def bucketExpr(timeCol: String) = {
    val d = expr(s"date_add(DATE'1970-01-01', ${dayNumSql(timeCol)})")
    ((year(d) - 1970) * 12 + month(d) - 1)
  }

  /** Day bucket: days since epoch (UTC) of the time dimension — same
    * UTC-fixed arithmetic as the serving side's `floorDiv(us, DayUs)`.
    */
  def dayBucketExpr(timeCol: String) = expr(dayNumSql(timeCol))

  private def dayNumSql(timeCol: String): String = {
    val us = s"unix_micros(CAST(`$timeCol` AS TIMESTAMP))"
    s"CAST((($us - pmod($us, ${DayUs}L)) div ${DayUs}L) AS INT)"
  }

  private val DayUs = 86400000000L

  def bucketOfMicros(us: Long): Int = {
    val ldt = java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), 0).atZone(java.time.ZoneOffset.UTC)
    (ldt.getYear - 1970) * 12 + ldt.getMonthValue - 1
  }

  /** Epoch micros of the first instant of bucket `b` (UTC month start). */
  def monthStartMicros(b: Int): Long =
    java.time.LocalDate.of(1970, 1, 1).plusMonths(b.toLong).toEpochDay *
      86400L * 1000000L

  val starSchema: StarSchema = StarSchema(
    factTable = "lineitem",
    relations = Seq(
      StarRelation("lineitem", "orders", ManyToOne,
        Seq(EqualityCondition("l_orderkey", "o_orderkey"))),
      StarRelation("lineitem", "supplier", ManyToOne,
        Seq(EqualityCondition("l_suppkey", "s_suppkey"))),
      StarRelation("lineitem", "part", ManyToOne,
        Seq(EqualityCondition("l_partkey", "p_partkey"))),
      StarRelation("orders", "customer", ManyToOne,
        Seq(EqualityCondition("o_custkey", "c_custkey"))),
      StarRelation("customer", "custnation", ManyToOne,
        Seq(EqualityCondition("c_nationkey", "n_nationkey"))),
      StarRelation("custnation", "custregion", ManyToOne,
        Seq(EqualityCondition("n_regionkey", "r_regionkey"))),
      StarRelation("supplier", "suppnation", ManyToOne,
        Seq(EqualityCondition("s_nationkey", "n_nationkey"))),
      StarRelation("suppnation", "suppregion", ManyToOne,
        Seq(EqualityCondition("n_regionkey", "r_regionkey")))))

  /** Physical table -> roles it plays in the star schema. */
  val roleOfTable: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("lineitem"),
    "orders"   -> Seq("orders"),
    "customer" -> Seq("customer"),
    "supplier" -> Seq("supplier"),
    "part"     -> Seq("part"),
    "nation"   -> Seq("custnation", "suppnation"),
    "region"   -> Seq("custregion", "suppregion"))

  /** (role, source column) -> cube column. Identity for fact/dim columns the
    * flat table keeps under their own name; the role-playing nation/region
    * columns land under the reference's names (`c_nation`, `s_region`, ... —
    * FIXTURES.md §3). Source columns not listed did not survive
    * denormalization (e.g. `n_regionkey`): queries referencing them outside
    * a collapsed star edge stay on the base tables.
    */
  val columnMapping: Map[(String, String), String] = {
    val identity = Seq(
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"),
      "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment"),
      "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice"))
    val id = for ((role, cols) <- identity; c <- cols) yield (role, c) -> c
    val roleMapped = Seq(
      ("custnation", "n_nationkey") -> "c_nationkey",
      ("custnation", "n_name")      -> "c_nation",
      ("custregion", "r_name")      -> "c_region",
      ("suppnation", "n_nationkey") -> "s_nationkey",
      ("suppnation", "n_name")      -> "s_nation",
      ("suppregion", "r_name")      -> "s_region")
    (id ++ roleMapped).toMap
  }

  def info: CubeInfo = {
    val metrics = Set("l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "o_totalprice", "c_acctbal", "s_acctbal", "p_retailprice")
    val cols = columnMapping.values.toSeq.distinct.map { c =>
      val role: ColumnRole =
        if (c == "l_shipdate") Time
        else if (metrics.contains(c)) Metric
        else Dimension
      CubeColumn(c, role)
    }
    CubeInfo(
      name = CubeName,
      timeColumn = "l_shipdate",
      columns = cols,
      starSchema = starSchema,
      roleOfTable = roleOfTable,
      columnMapping = columnMapping,
      // TPC-H ships every lineitem within a bounded window of its order
      // date; DECLARING the correlation lets the build MEASURE the exact
      // lag bounds, and o_orderdate slices (Q3/Q4/Q5/Q8/Q10 shapes) then
      // prune the l_shipdate-partitioned cube
      timeCorrelatedColumns = Seq("o_orderdate"),
      // intra-bucket row clustering (see CubeInfo.clusterDims): the
      // most-filtered dimensions, in selectivity order
      clusterDims = Seq("c_mktsegment", "s_nation", "c_nation"),
      functionalDeps = Seq(
        FunctionalDependency("c_nation", "c_region", ManyToOne),
        FunctionalDependency("s_nation", "s_region", ManyToOne),
        // every lineitem/order key determines its order's attributes
        FunctionalDependency("l_orderkey", "o_orderkey", OneToOne),
        FunctionalDependency("o_orderkey", "o_orderdate", ManyToOne),
        FunctionalDependency("o_orderkey", "o_custkey", ManyToOne),
        FunctionalDependency("c_custkey", "c_name", OneToOne),
        FunctionalDependency("c_custkey", "c_mktsegment", ManyToOne),
        FunctionalDependency("c_custkey", "c_nation", ManyToOne),
        FunctionalDependency("p_partkey", "p_name", OneToOne),
        FunctionalDependency("s_suppkey", "s_name", OneToOne),
        FunctionalDependency("s_suppkey", "s_nation", ManyToOne)))
  }

  def cubePath(sfDir: String): String = {
    val sf = new java.io.File(sfDir).getName
    // v4: built by the generic CubeSource.materialize; the content tag
    // re-keys the artifact whenever the testdata bytes change
    s"${graft.Graft.targetDir}/cubes/tpch_${sf}_${Tables.contentTag(sfDir)}_v4"
  }

  private val lock = new Object

  /** Materialize (if needed) and register the flat cube for `sfDir`: the
    * TPC-H descriptor ([[info]]) over the generic [[graft.sources.CubeSource.materialize]].
    * Idempotent; the parquet write happens once per scale factor, and the
    * lattice nodes attached to the cube stay attached.
    */
  def ensure(spark: SparkSession, sfDir: String): RegisteredCube = lock.synchronized {
    val sf = new java.io.File(sfDir).getName
    val tablePaths = roleOfTable.keys.map(t => t -> Tables.path(sfDir, t)).toMap
    graft.sources.CubeSource.materialize(spark, info.copy(name = s"${CubeName}_$sf"),
      tablePaths, cubePath(sfDir))
  }
}
