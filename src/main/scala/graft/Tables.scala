package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.sql.Column

/** Loaders for the driver-generated testdata star schema (TESTDATA.md) and
  * the denormalized flat fact table the engine's cube layer is built on.
  *
  * Mirrors the reference's test fixtures — base star tables plus the
  * `orderLineItemPartSupplier`-style flat table (reference:
  * `src/test/scala/.../BaseTest.scala:143-216`) — re-expressed as plain
  * Spark DataFrame joins. The small dimension tables are broadcast; at
  * production scale the flat table is materialized once as a
  * time-partitioned cube (see [[graft.cube.CubeCatalog]]).
  */
object Tables {

  val starTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extraTables: Seq[String] = Seq("events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Short content tag of a testdata dir for embedding in derived-artifact
    * paths (cubes, rollup nodes, dedup pair indexes, IVF stores). The
    * driver REGENERATES testdata between rounds and has changed its
    * generator before (round 6 shipped a different events encoding); an
    * artifact built from last round's bytes must not serve this round's
    * queries. Evidence hashed per file: name, size, and the first + last
    * 8 KiB of bytes — the tail of a parquet file is its footer (row
    * counts, column min/max stats, schema), so a regeneration whose bytes
    * change but whose file sizes happen to coincide still re-keys, while a
    * byte-identical regeneration — the common case — reuses the artifact.
    * Deliberately NOT mtime (re-copies would spuriously re-key) and NOT a
    * full-content hash (this must stay cheap: a few stat+16 KiB reads, no
    * Spark job). Memoized per dir.
    */
  private val tagMemo = scala.collection.concurrent.TrieMap.empty[String, String]
  def contentTag(sfDir: String): String = tagMemo.getOrElseUpdate(sfDir, {
    val files = Option(new java.io.File(sfDir).listFiles()).toSeq.flatten
      .filter(_.isFile).sortBy(_.getName)
    val md = java.security.MessageDigest.getInstance("MD5")
    val Chunk = 8192
    files.foreach { f =>
      md.update(s"${f.getName}:${f.length}|".getBytes("UTF-8"))
      val raf = new java.io.RandomAccessFile(f, "r")
      try {
        val head = new Array[Byte](math.min(Chunk.toLong, f.length).toInt)
        raf.readFully(head)
        md.update(head)
        if (f.length > Chunk) {
          val tail = new Array[Byte](
            math.min(Chunk.toLong, f.length - Chunk).toInt)
          raf.seek(f.length - tail.length)
          raf.readFully(tail)
          md.update(tail)
        }
      } finally raf.close()
    }
    md.digest().take(4).map(b => f"$b%02x").mkString
  })

  // schema inference (footer reads + file listing) costs ~10-30ms per
  // parquet table; queries re-resolve the same handful of tables over and
  // over, so the analyzed DataFrames are cached per (session, path).
  // Testdata paths are immutable, so entries never go stale.
  private val tableCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  // see rebalanced() — the compute-dense pipeline tables
  private val rebalancedTables = Set("documents", "embeddings")

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    tableCache.getOrElseUpdate((spark, path(sfDir, name)), {
      // testdata timestamps are NTZ-annotated parquet
      // (isAdjustedToUTC=false). Spark 4 would infer TimestampNTZType —
      // but parquet filter conversion produces NO row-group statistics
      // predicate for NTZ columns, silently disabling every footer
      // min/max time skip (measured: a below-min range predicate read
      // 100% of a sorted file). Inferring TimestampType instead keeps
      // pushdown + stats skipping; with the session pinned to UTC the
      // wall-clock instants are identical.
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      val df = spark.read.parquet(path(sfDir, name))
      if (rebalancedTables(name)) rebalanced(spark, df) else df
    })

  /** Scan-parallelism guard for the compute-dense pipeline tables
    * (documents / embeddings): parquet can only split at ROW-GROUP
    * boundaries, so a table written as one row group scans as ONE partition
    * — and every tokenizer / shingle / minhash / quality stage before the
    * first shuffle then runs on a single core regardless of cluster size.
    * Byte-based split sizing (`spark.sql.files.maxPartitionBytes`) cannot
    * fix this: the cost of these stages is per-row compute, not scan bytes,
    * and splits cannot subdivide a row group anyway. When the scan's split
    * count is far below the core count, a round-robin rebalance (a few MB
    * of narrow shuffle) buys full parallelism for everything downstream.
    * At production scale the condition is simply false — thousands of
    * row groups already out-split the executors — and the rebalance
    * vanishes from the plan. Filters and column pruning still push through
    * `Repartition` to the scan, so pushdown is unaffected.
    *
    * Applied ONLY where the first stage is compute-dense. Measured at
    * sf0.1: documents/embeddings pipelines gain 2-3× (minhash 1.9→0.6 s);
    * `events` queries LOSE ~2× (sessionize 0.96→1.49 s) — their first
    * stage is a trivial projection feeding a hash shuffle the query needs
    * anyway, so the rebalance is a pure extra exchange. The TPC-H star
    * tables are also NOT rebalanced: their heavy queries route to the
    * materialized cube (written time-partitioned = many files = parallel),
    * and the star-join collapse patterns match the bare relation plans.
    */
  private def rebalanced(spark: SparkSession, df: DataFrame): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    // physical planning only (no job) — resolved once per cached table
    val scanParts = df.rdd.getNumPartitions
    // Width stays a flat `cores`, and that is a MEASUREMENT, not an
    // oversight (r20): a data-derived width (64 KB/task -> 10-way at
    // sf0.1) was built and benched — pure projections gained (gopher
    // 0.55 -> 0.29 s) but every inverted-index pipeline lost MORE
    // (containment 0.75 -> 1.1 s, ngram/minhash/pack +0.1-0.15 s): their
    // pre-shuffle shingle/hash stages carry ~1.5-3 s of real CPU at
    // sf0.1, and narrowing the spread serializes it. Per-task dispatch
    // overhead is the smaller term; compute density wins.
    if (scanParts * 2 <= cores) df.repartition(cores) else df
  }

  /** Inverse of [[rebalanced]] for consumers where the guard exchange is
    * pure overhead: operators that immediately shuffle on their own key
    * (their exchange restores parallelism anyway) and zero-column scans
    * (`count(*)` reads no data worth rebalancing). Strips ONLY a top-level
    * shuffling `Repartition` node — any other plan passes through.
    */
  def unrebalanced(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case r: org.apache.spark.sql.catalyst.plans.logical.Repartition
        if r.shuffle =>
      org.apache.spark.sql.graft.PlanDataset.ofRows(df.sparkSession, r.child)
    case _ => df
  }

  /** Drop the cached analyzed plans — required after overwriting a table
    * path in place (the cached file index is eager and would read stale
    * file lists). Driver testdata never changes; mutable-source workflows
    * (e.g. [[graft.cube.CubeRefresh]] specs) do.
    */
  def invalidateCache(): Unit = { tableCache.clear(); eventsCache.clear() }

  /** The `events` table. Driver generations have varied the parquet type of
    * `ts` round to round: TIMESTAMP(NANOS) (which Spark refuses by default —
    * read as long via `nanosAsLong` and truncate to micros, exactly what
    * DuckDB's reader does), plain TIMESTAMP(MICROS) (read natively),
    * NTZ-annotated micros, and in round 6 an encoding that made every
    * events-touching query fail in Verify. Adapt to whichever
    * this dataset carries instead of assuming one: for raw INT64 the epoch
    * unit is sniffed from the magnitude of one sampled value (epoch-now is
    * ~1.7e9 s / 1.7e12 ms / 1.7e15 us / 1.7e18 ns — four decades apart, so
    * the decode is unambiguous for any timestamp within ±200 years), and
    * string/date columns are parsed/cast. The converted frame is memoized
    * per (session, path) because the sniff costs one tiny job.
    */
  private val eventsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  def events(spark: SparkSession, sfDir: String): DataFrame =
    eventsCache.getOrElseUpdate((spark, path(sfDir, "events")), {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = t(spark, sfDir, "events")
      adaptEventsTs(df, df)
    })

  /** The [[events]] ts adaptation applied to an arbitrary frame over the
    * same files — including a STREAMING frame (a file-source stream
    * feeding `EventPipeline.funnelStream`/`retentionStream`): the
    * epoch-unit sniff runs on `batch` (one tiny job — a stream cannot
    * execute jobs at plan time), the conversion itself is a stateless
    * projection valid on both.
    */
  def adaptEventsTs(df: DataFrame, batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        val sample = batch.select(max(abs(col("ts")))).head()
        val mag = if (sample.isNullAt(0)) 0L else sample.getLong(0)
        val toMicros =
          if (mag > 100000000000000000L) "ts div 1000"  // nanos
          else if (mag > 100000000000000L) "ts"          // micros
          else if (mag > 100000000000L) "ts * 1000"      // millis
          else "ts * 1000000"                            // seconds
        df.withColumn("ts", expr(s"timestamp_micros($toMicros)"))
      case TimestampNTZType =>
        // parquet TIMESTAMP(isAdjustedToUTC=false) infers as NTZ in Spark 4;
        // the engine's time functions (unix_millis, session_window, interval
        // pruning) want TIMESTAMP. Session TZ is pinned UTC everywhere, so
        // the cast keeps the same wall-clock instants DuckDB sees.
        df.withColumn("ts", col("ts").cast("timestamp"))
      case StringType =>
        df.withColumn("ts", to_timestamp(col("ts")))
      case DateType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Exact, order-independent sum of a double column: route through a wide
    * decimal so Spark and any ANSI-SQL oracle (DuckDB) produce bit-identical
    * doubles regardless of partitioning / summation order.
    *
    * Scale 6 on purpose: the testdata money columns are 2-decimal values, so
    * products of up to three of them are exact at ≤6 decimals and the double
    * representations sit within ~1e-9 of those exact values — rounding at
    * scale 6 is therefore unambiguous in every engine. (A larger scale would
    * round inside the doubles' binary noise, where engines' double→decimal
    * conversions can legitimately disagree by one ulp.)
    */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(28, 6))).cast(DoubleType)

  /** SQL fragment equivalent of [[dsum]] for oracle queries. */
  def dsumSql(expr: String): String =
    s"CAST(sum(CAST($expr AS DECIMAL(28,6))) AS DOUBLE)"

  /** Denormalized flat fact table: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    * region (customer role) ⋈ supplier ⋈ nation ⋈ region (supplier role) ⋈
    * part. Column names follow the reference fixture (`c_nation`,
    * `s_region`, ... — FIXTURES.md §1); names are unique across the star
    * schema, matching the reference's star-schema constraint
    * (`StarSchemaInfo.scala:380-388`).
    */
  def flat(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
    val o  = t(spark, sfDir, "orders")
    val c  = t(spark, sfDir, "customer")
    val s  = t(spark, sfDir, "supplier")
    val p  = t(spark, sfDir, "part")
    val n  = t(spark, sfDir, "nation")
    val r  = t(spark, sfDir, "region")

    val cn = n.select(col("n_nationkey").as("cn_nationkey"),
                      col("n_name").as("c_nation"),
                      col("n_regionkey").as("cn_regionkey"))
    val cr = r.select(col("r_regionkey").as("cr_regionkey"),
                      col("r_name").as("c_region"))
    val sn = n.select(col("n_nationkey").as("sn_nationkey"),
                      col("n_name").as("s_nation"),
                      col("n_regionkey").as("sn_regionkey"))
    val sr = r.select(col("r_regionkey").as("sr_regionkey"),
                      col("r_name").as("s_region"))

    li.join(broadcast(o), li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(cn), c("c_nationkey") === cn("cn_nationkey"))
      .join(broadcast(cr), cn("cn_regionkey") === cr("cr_regionkey"))
      .join(broadcast(s), li("l_suppkey") === s("s_suppkey"))
      .join(broadcast(sn), s("s_nationkey") === sn("sn_nationkey"))
      .join(broadcast(sr), sn("sn_regionkey") === sr("sr_regionkey"))
      .join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .drop("cn_nationkey", "cn_regionkey", "cr_regionkey",
            "sn_nationkey", "sn_regionkey", "sr_regionkey")
  }

  /** DuckDB-SQL equivalent of [[flat]], usable as a WITH-clause body so
    * oracle queries can reference the flat table as `olps`.
    */
  val flatSql: String =
    """SELECT lineitem.*,
      |       o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      |       o_orderpriority,
      |       c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |       cn.n_name AS c_nation, cr.r_name AS c_region,
      |       s_suppkey, s_name, s_nationkey, s_acctbal,
      |       sn.n_name AS s_nation, sr.r_name AS s_region,
      |       p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |JOIN region cr ON cn.n_regionkey = cr.r_regionkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN region sr ON sn.n_regionkey = sr.r_regionkey
      |JOIN part     ON l_partkey = p_partkey""".stripMargin

  /** Prefix an oracle query with the flat-table CTE. */
  def withFlat(sql: String): String = s"WITH olps AS ($flatSql)\n$sql"
}
