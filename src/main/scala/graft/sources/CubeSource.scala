package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.cube._

/** Generic cube registration — the reference's datasource entry point
  * (`DefaultSource.createRelation`, `DefaultSource.scala:32-194`: source
  * table, time column, star schema, column mapping as options) re-expressed
  * as an API over [[CubeInfo]].
  *
  * Unlike the reference (which requires the user to supply the
  * pre-denormalized fact DataFrame AND a pre-built Druid index),
  * [[flatten]] derives the denormalization join from the declared star
  * metadata itself — each role is joined along its declared edge, with
  * role-played tables (e.g. nation as customer-nation and supplier-nation)
  * disambiguated by the per-role column mapping — and [[materialize]]
  * writes the time-bucket-partitioned cube + NDV/interval stats sidecar
  * that the rewrite rules consume; join strategies are left to Catalyst/AQE
  * (broadcast under the threshold, sort-merge beyond).
  */
object CubeSource {

  /** Read one source table, dispatching on the path's extension — the
    * format-agnostic ingest edge (the reference reads its test data through
    * `com.databricks.spark.csv`, `BaseTest.scala:163`; ours reads parquet,
    * ORC, CSV, and JSON-lines natively). An explicit schema skips
    * inference: at 100 TB, CSV/JSON schema inference is a wasted full
    * scan, so production ingest should always pass one (parquet and ORC
    * carry their own, plus footer stats, so they keep predicate pushdown
    * and column pruning through this edge).
    */
  def readTable(spark: SparkSession, path: String,
                schema: Option[StructType] = None): DataFrame = {
    def base = {
      val r = spark.read
      schema.map(r.schema).getOrElse(r)
    }
    formatOf(path) match {
      case "csv" =>
        (if (schema.isEmpty) base.option("inferSchema", "true") else base)
          .option("header", "true").csv(path)
      case "json" => base.json(path)
      case "orc"  => base.orc(path)
      case _      => base.parquet(path)
    }
  }

  /** The format [[readTable]] reads `path` as. */
  def formatOf(path: String): String = {
    val lower = path.toLowerCase(java.util.Locale.ROOT)
    if (lower.endsWith(".csv") || lower.endsWith(".csv.d")) "csv"
    else if (lower.endsWith(".json") || lower.endsWith(".jsonl")) "json"
    else if (lower.endsWith(".orc") || lower.endsWith(".orc.d")) "orc"
    else "parquet"
  }

  /** Denormalize the star schema into the flat fact DataFrame, columns
    * named per `info.columnMapping`. `tablePaths` maps PHYSICAL table
    * names (as in `info.roleOfTable`) to source paths (parquet / `.csv` /
    * `.json` — see [[readTable]]); `schemas` optionally pins a schema per
    * physical table for the self-describing-less formats.
    */
  def flatten(spark: SparkSession, info: CubeInfo,
              tablePaths: Map[String, String],
              schemas: Map[String, StructType] = Map.empty): DataFrame = {
    val physicalOf: Map[String, String] = for {
      (phys, roles) <- info.roleOfTable
      role <- roles
    } yield role -> phys

    // per-role frame: mapped columns under their cube names + every join
    // key of the role under a collision-proof temp name
    def roleKeys(role: String): Seq[String] =
      info.starSchema.relations.flatMap { r =>
        r.joinCondition.flatMap { c =>
          (if (r.leftTable == role) Seq(c.leftCol) else Nil) ++
            (if (r.rightTable == role) Seq(c.rightCol) else Nil)
        }
      }.distinct

    def tmp(role: String, c: String) = s"__${role}__$c"

    def roleFrame(role: String): DataFrame = {
      val phys = physicalOf(role)
      val base = readTable(spark, tablePaths(phys), schemas.get(phys))
      val mapped = info.columnMapping.collect {
        case ((r, src), dst) if r == role => col(src).as(dst)
      }.toSeq
      val keys = roleKeys(role).map(k => col(k).as(tmp(role, k)))
      base.select(mapped ++ keys: _*)
    }

    // left side of a join condition resolves against the accumulated plan
    // (mapped cube name if the column survived, else its temp key); the
    // right side ALWAYS uses its temp key — a role's mapped columns may
    // collide with names the plan already has (both sides of an equi-join
    // key can map to the same cube column, e.g. customer.c_nationkey and
    // custnation.n_nationkey -> c_nationkey) and are dropped from the
    // right frame before joining, the join equality making them redundant
    def leftRef(role: String, c: String): String =
      info.columnMapping.getOrElse((role, c), tmp(role, c))

    // BFS from the fact table along declared edges
    val fact = info.starSchema.factTable
    var plan = roleFrame(fact)
    var joined = Set(fact)
    var remaining = info.starSchema.relations
    while (remaining.nonEmpty) {
      val (ready, rest) = remaining.partition(r => joined(r.leftTable))
      require(ready.nonEmpty,
        s"star schema not connected from $fact: ${rest.map(_.rightTable).mkString(",")}")
      for (r <- ready) {
        val existing = plan.columns.toSet
        val right = {
          val rf = roleFrame(r.rightTable)
          rf.drop(rf.columns.filter(c => !c.startsWith("__") && existing(c)): _*)
        }
        val cond = r.joinCondition.map(c =>
          col(leftRef(r.leftTable, c.leftCol)) === col(tmp(r.rightTable, c.rightCol)))
          .reduce(_ && _)
        // no broadcast hint: dimension legs can be 10^8 rows at 100 TB —
        // Catalyst/AQE broadcasts the ones under the threshold and
        // sort-merges the rest
        plan = plan.join(right, cond, "inner")
        joined += r.rightTable
      }
      remaining = rest
    }
    plan.drop(plan.columns.filter(_.startsWith("__")): _*)
  }

  /** Materialize the flat cube (bucket-partitioned parquet + stats) and
    * register it for plan rewriting. Idempotent per destination path, and
    * a repeated call keeps the lattice nodes already attached to the
    * cube's current generation: those of the registered cube when it
    * serves that generation, else those of the generation's descriptor.
    */
  def materialize(spark: SparkSession, info: CubeInfo,
                  tablePaths: Map[String, String], destPath0: String,
                  schemas: Map[String, StructType] = Map.empty): RegisteredCube = {
    // serve/register the CURRENT generation (graft.cube.CubeGenerations):
    // a refreshed cube's serving dir is a `.gen-N` sibling of the build
    // root, and a re-materialize call must attach THAT, not the retained
    // previous generation at the bare root
    val destPath = CubeGenerations.currentDir(destPath0)
    if (!new java.io.File(destPath, "_SUCCESS").exists()) {
      // listed BEFORE the sources are read, for CubeRefresh's detection
      val listing = FactListing.listFact(info, tablePaths)
      val flat = flatten(spark, info, tablePaths, schemas)
      val bucketed = flat
        .withColumn(info.timeBucketColumn, TpchCube.bucketExpr(info.timeColumn))
        .repartition(col(info.timeBucketColumn))
      // declared intra-bucket clustering (CubeInfo.clusterDims); the sort
      // leads with the partition column so the writer reuses it
      val clustered =
        if (info.clusterDims.isEmpty) bucketed
        else bucketed.sortWithinPartitions(
          (info.timeBucketColumn +: info.clusterDims).map(col): _*)
      clustered.write.mode("overwrite")
        .partitionBy(info.timeBucketColumn).parquet(destPath)
      listing.foreach(l => FactListing.save(destPath, FactListing.readBy(l, flat)))
      BucketFooters.ensure(spark, destPath, info.timeBucketColumn, info.timeColumn)
    }
    val stats = CubeStats.ensure(spark, info, destPath)
    val nodes = CubeCatalog.get(info.name).filter(_.cubePath == destPath)
      .orElse(CubeMeta.load(destPath)).map(_.rollups).getOrElse(Nil)
    val cube = RegisteredCube(CubeStats.withStats(info, stats), destPath,
      tablePaths.map { case (t, p) => t -> CubeCatalog.normalizePath(p) }, nodes)
    CubeCatalog.register(cube)
    CubeMeta.save(cube)
    cube
  }
}
