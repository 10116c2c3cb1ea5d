package olapbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded TPC-H-shaped star (region, nation, customer, supplier, part,
  * orders, lineitem) with the column names and types the engine's cube
  * layer expects. Every value is a hash of (row key, seed, column salt), so
  * the same seed and scale give the same tables under any partitioning.
  *
  * Base row counts follow TPC-H per unit of scale; `sf = 0.1` is the size
  * of the repository's sf0.1 test star (600k lineitem rows). Ship dates
  * trail their order's date by 1..121 days, as in TPC-H, so refresh
  * batches that add one month touch one or two cube buckets.
  */
final class StarGen(spark: SparkSession, seed: Long, sf: Double, months: Int) {

  val nCustomer: Long = math.max(100L, (150000 * sf).toLong)
  val nSupplier: Long = math.max(10L, (10000 * sf).toLong)
  val nPart: Long = math.max(100L, (200000 * sf).toLong)
  val nOrders: Long = math.max(100L, (1500000 * sf).toLong)
  val linesPerOrder = 4
  /** Orders span `months` whole months from 1996-01-01. */
  val firstDay: Int = java.time.LocalDate.of(1996, 1, 1).toEpochDay.toInt
  val orderDays: Int = (java.time.LocalDate.of(1996, 1, 1)
    .plusMonths(months.toLong).toEpochDay - firstDay).toInt

  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val colors = Seq("red", "blue", "green", "black", "white", "pale", "dark", "small")
  private val nouns = Seq("ring", "widget", "bolt", "gear", "valve", "panel", "cable", "frame")

  private def h(key: Column, salt: Int): Column = xxhash64(key, lit(seed), lit(salt))
  private def uni(key: Column, salt: Int, n: Long): Column = pmod(h(key, salt), lit(n))
  private def pick(key: Column, salt: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (uni(key, salt, xs.size.toLong) + 1).cast("int"))
  /** Two-decimal money value in [lo, lo + span). */
  private def money(key: Column, salt: Int, lo: Double, span: Double): Column =
    (lit(lo) + uni(key, salt, (span * 100).toLong).cast("double") / 100.0)
  private def day(d: Column): Column = timestamp_seconds(d.cast("long") * 86400L)

  /** Order date (epoch day) of an order key: shared by orders and lineitem
    * so a line's ship date can trail its order without a join.
    */
  private def orderDay(okey: Column): Column = lit(firstDay) + uni(okey, 11, orderDays.toLong)

  private def range(n: Long): DataFrame = spark.range(0, n, 1, 4).toDF()

  def region: DataFrame = range(5).select(col("id").cast("int").as("r_regionkey"),
    element_at(array(regions.map(lit): _*), (col("id") + 1).cast("int")).as("r_name"))

  def nation: DataFrame = range(25).select(col("id").cast("int").as("n_nationkey"),
    concat(lit("NATION_"), col("id")).as("n_name"),
    pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))

  def customer: DataFrame = range(nCustomer).select(col("id").as("c_custkey"),
    format_string("Customer#%09d", col("id")).as("c_name"),
    uni(col("id"), 1, 25).cast("int").as("c_nationkey"),
    money(col("id"), 2, -999.99, 10999.0).as("c_acctbal"),
    pick(col("id"), 3, segments).as("c_mktsegment"))

  def supplier: DataFrame = range(nSupplier).select(col("id").as("s_suppkey"),
    format_string("Supplier#%09d", col("id")).as("s_name"),
    uni(col("id"), 4, 25).cast("int").as("s_nationkey"),
    money(col("id"), 5, -999.99, 10999.0).as("s_acctbal"))

  def part: DataFrame = range(nPart).select(col("id").as("p_partkey"),
    concat_ws(" ", pick(col("id"), 6, colors), pick(col("id"), 7, nouns)).as("p_name"),
    concat(lit("Brand#"), uni(col("id"), 8, 25) + 1).as("p_brand"),
    pick(col("id"), 9, types).as("p_type"),
    (uni(col("id"), 10, 50) + 1).cast("int").as("p_size"),
    (lit(900.0) + pmod(col("id"), lit(1000)).cast("double") / 10.0).as("p_retailprice"))

  /** Orders with keys in [from, from + n); `dayOf` overrides the date. */
  def orders(from: Long, n: Long, dayOf: Column => Column = orderDay): DataFrame =
    spark.range(from, from + n, 1, 4).toDF().select(col("id").as("o_orderkey"),
      uni(col("id"), 12, nCustomer).as("o_custkey"),
      pick(col("id"), 13, Seq("F", "O", "P")).as("o_orderstatus"),
      money(col("id"), 14, 1000.0, 499000.0).as("o_totalprice"),
      day(dayOf(col("id"))).as("o_orderdate"),
      pick(col("id"), 15, priorities).as("o_orderpriority"))

  /** `linesPerOrder` lines for each order key in [from, from + n). */
  def lineitem(from: Long, n: Long,
               shipDayOf: (Column, Column) => Column = (okey, line) =>
                 orderDay(okey) + 1 + uni(line, 16, 121)): DataFrame = {
    val line = spark.range(from * linesPerOrder, (from + n) * linesPerOrder, 1, 4).toDF()
    val okey = (col("id") / linesPerOrder).cast("long")
    line.select(okey.as("l_orderkey"),
      uni(col("id"), 17, nPart).as("l_partkey"),
      uni(col("id"), 18, nSupplier).as("l_suppkey"),
      (pmod(col("id"), lit(linesPerOrder)) + 1).cast("int").as("l_linenumber"),
      (uni(col("id"), 19, 50) + 1).cast("double").as("l_quantity"),
      money(col("id"), 20, 900.0, 104100.0).as("l_extendedprice"),
      (uni(col("id"), 21, 11).cast("double") / 100.0).as("l_discount"),
      (uni(col("id"), 22, 9).cast("double") / 100.0).as("l_tax"),
      pick(col("id"), 23, Seq("A", "N", "R")).as("l_returnflag"),
      pick(col("id"), 24, Seq("F", "O")).as("l_linestatus"),
      day(shipDayOf(okey, col("id"))).as("l_shipdate"))
  }

  /** Write the whole star under `dir` (one parquet directory per table). */
  def writeStar(dir: String): Unit = {
    def put(df: DataFrame, name: String, files: Int): Unit =
      df.coalesce(files).write.parquet(s"$dir/$name.parquet")
    put(region, "region", 1)
    put(nation, "nation", 1)
    put(customer, "customer", 1)
    put(supplier, "supplier", 1)
    put(part, "part", 1)
    put(orders(0, nOrders), "orders", 4)
    put(lineitem(0, nOrders), "lineitem", 4)
  }

  /** One refresh batch: for each of `months` (months since 1970-01), `nOrd`
    * new orders (keys from `firstKey` on, block after block) whose lines all
    * ship on days of that month, with order dates 1..30 days before it.
    * Appended as one new file per table.
    */
  def appendBatch(dir: String, firstKey: Long, nOrd: Long, months: Seq[Int]): Unit = {
    val blocks = months.zipWithIndex.map { case (month, i) =>
      val m0 = java.time.LocalDate.of(1970, 1, 1).plusMonths(month.toLong)
      val d0 = m0.toEpochDay.toInt
      val len = m0.lengthOfMonth().toLong
      val from = firstKey + i * nOrd
      (orders(from, nOrd, k => lit(d0) - 1 - uni(k, 26, 30)),
        lineitem(from, nOrd, (_, line) => lit(d0) + uni(line, 25, len)))
    }
    blocks.map(_._1).reduce(_ union _).coalesce(1).write.mode("append").parquet(s"$dir/orders.parquet")
    blocks.map(_._2).reduce(_ union _).coalesce(1).write.mode("append").parquet(s"$dir/lineitem.parquet")
  }
}
