package graft.cube

import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cube statistics sidecar (`_graft_stats.json`): dimension NDVs (the role
  * Druid column cardinality plays for the reference's cost gate,
  * `DruidDataSource.scala:45-51`), the covered time interval (reference
  * `QueryIntervals.scala:40-132` index intervals), and whether the time
  * column is day-quantized. Computed once per materialized cube path.
  *
  * Each dimension NDV is the estimate of an HLL sketch that is stored
  * beside the stats (`_graft_ndv_sketches.json`), so a refresh can union
  * the previous generation's sketches with those of the appended rows
  * ([[merge]]) instead of re-reading the cube.
  */
object CubeStats {

  private val StatsSidecar = "_graft_stats.json"
  private val SketchSidecar = "_graft_ndv_sketches.json"

  /** log2 of the HLL register count: Spark's `hll_sketch_agg` default. */
  private val LgK = 12

  /** Read-or-compute the stats for a materialized cube. */
  def ensure(spark: SparkSession, info: CubeInfo, path: String): Map[String, Long] =
    load(info, path).getOrElse {
      val (stats, sketches, _) = graft.Graft.withoutRewrites(spark) {
        measure(info, CubeCatalog.read(spark, path))
      }
      save(path, stats, sketches)
      stats
    }

  /** The stats sidecar of `path`, when it covers everything `info` declares. */
  private[cube] def load(info: CubeInfo, path: String): Option[Map[String, Long]] = {
    val sidecar = new java.io.File(path, StatsSidecar)
    if (!sidecar.exists()) None
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(sidecar.toPath), "UTF-8")
      val m = "\"([^\"]+)\"\\s*:\\s*(-?\\d+)".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
      // regenerate older-format sidecars: missing time-range/quantization
      // keys, OR missing lag measurements for any currently-declared
      // correlated column (an all-NULL column leaves a `__lag_null_<c>`
      // sentinel, so its absence still distinguishes "measured" from
      // "sidecar predates the declaration")
      val lagCovered = correlated(info)
        .forall(c => m.contains(s"__lag_min_us_$c") || m.contains(s"__lag_null_$c"))
      if (m.contains("__time_subday") && m.contains("__time_nulls") && lagCovered)
        Some(m)
      else None
    }
  }

  /** The stored per-dimension HLL sketches of `path`, when every dimension
    * of `info` has one (cubes built before the sketches were stored have
    * none).
    */
  private[cube] def loadSketches(info: CubeInfo, path: String)
      : Option[Map[String, Array[Byte]]] = {
    val f = new java.io.File(path, SketchSidecar)
    if (!f.exists()) None
    else {
      val j = org.json4s.jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      val m = j match {
        case org.json4s.JObject(fs) => fs.collect {
          case (k, org.json4s.JString(v)) => k -> java.util.Base64.getDecoder.decode(v) }.toMap
        case _ => Map.empty[String, Array[Byte]]
      }
      if (dims(info).forall(m.contains)) Some(m) else None
    }
  }

  private[cube] def save(path: String, stats: Map[String, Long],
                         sketches: Map[String, Array[Byte]]): Unit = {
    val json = stats.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    java.nio.file.Files.write(new java.io.File(path, StatsSidecar).toPath,
      json.getBytes("UTF-8"))
    val sk = sketches.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k": "${java.util.Base64.getEncoder.encodeToString(v)}"""" }
      .mkString("{", ", ", "}")
    java.nio.file.Files.write(new java.io.File(path, SketchSidecar).toPath,
      sk.getBytes("UTF-8"))
    ()
  }

  private def dims(info: CubeInfo): Seq[String] =
    info.columns.filter(_.role != ColumnRole.Metric).map(_.name)

  private def correlated(info: CubeInfo): Seq[String] =
    info.timeCorrelatedColumns.filter(info.columnByName.contains)

  /** `hll_sketch_agg` takes INT, BIGINT, STRING and BINARY; other types
    * map to one of those by a session-time-zone-free injection, so sketches
    * built in different sessions union correctly.
    */
  private def sketchInput(df: DataFrame, c: String): Column = {
    val x = col(c)
    df.schema(c).dataType match {
      case IntegerType | LongType | StringType | BinaryType => x
      case ByteType | ShortType                            => x.cast(IntegerType)
      case TimestampType                                   => unix_micros(x)
      case DateType                                        => unix_date(x)
      case _                                               => x.cast(StringType)
    }
  }

  /** One aggregate pass over `df`: the stats, the per-dimension sketches,
    * and the values of the caller's `extra` BIGINT aggregates.
    */
  private[cube] def measure(info: CubeInfo, df: DataFrame, extra: Seq[Column] = Nil)
      : (Map[String, Long], Map[String, Array[Byte]], Seq[Long]) = {
    val ds = dims(info)
    val tcol = col(info.timeColumn)
    val corr = correlated(info)
    // lag of the time dimension against each declared correlated column,
    // in micros, over rows where both are non-NULL (min/max skip NULLs)
    val lagAggs = corr.flatMap { c =>
      val lag = unix_micros(tcol.cast("timestamp")) -
        unix_micros(col(c).cast("timestamp"))
      Seq(min(lag).as(s"lagmin_$c"), max(lag).as(s"lagmax_$c"))
    }
    val row = df.select((ds.map(c => hll_sketch_agg(sketchInput(df, c), LgK).as(c))
      :+ unix_micros(min(tcol).cast("timestamp")).as("tmin")
      :+ unix_micros(max(tcol).cast("timestamp")).as("tmax")
      // UTC-day quantization (pure epoch arithmetic, session-TZ-free:
      // a session-TZ date_trunc would certify "midnight in Kolkata")
      :+ max(when(pmod(unix_micros(tcol.cast("timestamp")),
          lit(86400000000L)) =!= 0L, 1L).otherwise(0L)).as("subday")
      :+ count(when(tcol.isNull, 1)).as("tnulls")) ++ lagAggs ++ extra: _*)
      .head()
    // stored as HLL_4 (4 bits a register): half the bytes of the aggregate's
    // HLL_8, the same estimate
    val sketches = ds.zipWithIndex.map { case (c, i) =>
      c -> HllSketch.heapify(row.getAs[Array[Byte]](i)).copyAs(TgtHllType.HLL_4)
        .toCompactByteArray }.toMap
    val t = ds.size
    val lagStats = corr.zipWithIndex.flatMap { case (c, i) =>
      val base = t + 4 + 2 * i
      if (row.isNullAt(base) || row.isNullAt(base + 1))
        Seq(s"__lag_null_$c" -> 1L) // all-NULL column: sentinel, no bounds
      else Seq(s"__lag_min_us_$c" -> row.getLong(base),
        s"__lag_max_us_$c" -> row.getLong(base + 1))
    }
    val interval =
      if (row.isNullAt(t) || row.isNullAt(t + 1)) Map.empty[String, Long]
      else Map("__time_min_us" -> row.getLong(t), "__time_max_us" -> row.getLong(t + 1))
    val stats = sketches.map { case (c, s) => c -> estimate(s) } ++ interval ++
      Map("__time_subday" -> row.getLong(t + 2),
          "__time_nulls" -> row.getLong(t + 3)) ++ lagStats
    val extraBase = t + 4 + 2 * corr.size
    (stats, sketches, extra.indices.map(i => row.getLong(extraBase + i)))
  }

  private def estimate(sketch: Array[Byte]): Long =
    math.round(HllSketch.heapify(sketch).getEstimate)

  /** Stats of a cube generation made of `prev`'s rows plus (at most) the
    * rows measured in `slice`: the NDVs are the estimates of the unioned
    * sketches, every other figure a bound that is never narrower than the
    * data — the interval and lag ranges are unions, the sub-day flag an OR,
    * the time-NULL count a sum. Callers replace figures they can take
    * exactly (footers) after the merge.
    */
  private[cube] def merge(prev: Map[String, Long], prevSketches: Map[String, Array[Byte]],
                          slice: Map[String, Long], sliceSketches: Map[String, Array[Byte]])
      : (Map[String, Long], Map[String, Array[Byte]]) = {
    val sketches = sliceSketches.map { case (c, s) =>
      val u = new Union(LgK)
      u.update(HllSketch.heapify(prevSketches(c)))
      u.update(HllSketch.heapify(s))
      c -> u.getResult(TgtHllType.HLL_4).toCompactByteArray
    }
    def pick(k: String, f: (Long, Long) => Long): Option[(String, Long)] =
      (prev.get(k) ++ slice.get(k)).reduceOption(f).map(k -> _)
    val lagCols = (prev.keySet ++ slice.keySet).collect {
      case k if k.startsWith("__lag_min_us_") => k.stripPrefix("__lag_min_us_")
      case k if k.startsWith("__lag_null_")   => k.stripPrefix("__lag_null_")
    }
    val lags = lagCols.toSeq.flatMap { c =>
      val lo = pick(s"__lag_min_us_$c", math.min)
      val hi = pick(s"__lag_max_us_$c", math.max)
      if (lo.isEmpty || hi.isEmpty) Seq(s"__lag_null_$c" -> 1L) else lo.toSeq ++ hi
    }
    val merged = sketches.map { case (c, s) => c -> estimate(s) } ++
      pick("__time_min_us", math.min) ++ pick("__time_max_us", math.max) ++
      pick("__time_subday", math.max) ++ pick("__time_nulls", _ + _) ++ lags
    (merged, sketches)
  }

  /** Attach stats to the cube descriptor (column NDVs, time interval,
    * quantization flag).
    */
  def withStats(info: CubeInfo, stats: Map[String, Long]): CubeInfo =
    info.copy(
      columns = info.columns.map(c => c.copy(cardinality = stats.get(c.name))),
      timeIntervalMicros = for {
        lo <- stats.get("__time_min_us")
        hi <- stats.get("__time_max_us")
      } yield (lo, hi),
      timeDayQuantized = stats.get("__time_subday").contains(0L),
      timeNullFree = stats.get("__time_nulls").contains(0L),
      timeLagBounds = info.timeCorrelatedColumns.flatMap { c =>
        for {
          lo <- stats.get(s"__lag_min_us_$c")
          hi <- stats.get(s"__lag_max_us_$c")
        } yield c -> ((lo, hi))
      }.toMap)
}
