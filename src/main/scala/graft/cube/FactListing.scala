package graft.cube

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The fact table's file listing as of one cube generation
  * (`_graft_fact_files.json` beside the generation's descriptor): the
  * relative path, size and modification time of every data file the
  * generation's build or refresh had available when it started reading.
  *
  * It is what lets [[CubeRefresh]] find dirty buckets from the APPENDED
  * files alone: when every recorded file is still present and unchanged,
  * the rows the cube lacks live only in files the listing does not name,
  * so scanning those finds every dirty bucket. A rewritten or removed
  * file breaks that argument, and the refresh falls back to comparing
  * whole-table per-bucket counts.
  *
  * The listing is taken BEFORE the sources are read, and only the files
  * the flattening frame actually reads are recorded ([[readBy]]): a file
  * that lands between listing and read is then in the cube but not in the
  * listing, and the next refresh merely rewrites its buckets again; a file
  * the frame's file index missed is not recorded, and the next refresh
  * scans it as appended.
  */
object FactListing {

  val SidecarName = "_graft_fact_files.json"

  /** One data file: path relative to the table root, size, mtime (ns). */
  final case class Entry(rel: String, size: Long, mtimeNs: Long)

  /** Recorded listing: the table root it was taken under and its files. */
  final case class Listing(root: String, files: Seq[Entry])

  /** Changes of `now` against a recorded listing: the files it lacks, or
    * `None` when a recorded file was rewritten or removed.
    */
  def appended(recorded: Listing, now: Listing): Option[Seq[Entry]] = {
    val cur = now.files.map(e => e.rel -> e).toMap
    if (recorded.root != now.root ||
        !recorded.files.forall(e => cur.get(e.rel).contains(e))) None
    else {
      val known = recorded.files.map(_.rel).toSet
      Some(now.files.filterNot(e => known(e.rel)))
    }
  }

  /** Data files under `root` (or `root` itself when it is a file), skipping
    * the `_`- and `.`-prefixed names Spark's readers skip too.
    */
  def list(root: String): Listing = {
    val base = java.nio.file.Paths.get(root)
    def visible(p: java.nio.file.Path) = {
      val n = p.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".")
    }
    def entry(p: java.nio.file.Path) = {
      val a = java.nio.file.Files.readAttributes(p,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      Entry(base.relativize(p).toString, a.size(),
        a.lastModifiedTime().to(java.util.concurrent.TimeUnit.NANOSECONDS))
    }
    val files =
      if (!java.nio.file.Files.isDirectory(base)) Seq(entry(base))
      else {
        val out = Seq.newBuilder[Entry]
        def walk(d: java.nio.file.Path): Unit = {
          val it = java.nio.file.Files.list(d)
          try it.iterator().forEachRemaining { p =>
            if (visible(p)) {
              if (java.nio.file.Files.isDirectory(p)) walk(p) else out += entry(p)
            }
          } finally it.close()
        }
        walk(base)
        out.result()
      }
    Listing(root, files.sortBy(_.rel))
  }

  /** The fact table's source path (normalized) and its time column, when
    * both resolve from the cube's metadata.
    */
  def factSource(info: CubeInfo, tablePaths: Map[String, String]): Option[(String, String)] = {
    val factRole = info.starSchema.factTable
    for {
      physical <- info.roleOfTable.collectFirst {
        case (table, roles) if roles.contains(factRole) => table }
      path <- tablePaths.get(physical)
      srcTimeCol <- info.columnMapping.collectFirst {
        case ((role, src), dst) if role == factRole && dst == info.timeColumn => src }
    } yield (CubeCatalog.normalizePath(path), srcTimeCol)
  }

  /** The fact table's current listing, for parquet fact tables (the only
    * format whose appended files a refresh scans on their own).
    */
  def listFact(info: CubeInfo, tablePaths: Map[String, String]): Option[Listing] =
    factSource(info, tablePaths).collect {
      case (p, _) if graft.sources.CubeSource.formatOf(p) == "parquet" => list(p)
    }

  /** `listing` restricted to the files `df` reads. A source frame fixes its
    * file index when it is built, which may be before the listing was
    * taken; recording a listed file the frame never read would mark its
    * rows as absorbed, and no later refresh would scan it.
    */
  def readBy(listing: Listing, df: DataFrame): Listing = {
    def abs(p: String) = java.nio.file.Paths.get(p).toAbsolutePath.normalize
    val analyzed = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed
    val read = analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.inputFiles.toSeq
        case _                   => Nil
      }
    }.flatten.map(f => abs(new org.apache.hadoop.fs.Path(f).toUri.getPath)).toSet
    val root = abs(listing.root)
    listing.copy(files = listing.files.filter(e => read(root.resolve(e.rel).normalize)))
  }

  def save(genDir: String, listing: Listing): Unit = {
    val j = JObject(
      "root" -> JString(listing.root),
      "files" -> JArray(listing.files.map(e =>
        JArray(List(JString(e.rel), JLong(e.size), JLong(e.mtimeNs)))).toList))
    java.nio.file.Files.write(new java.io.File(genDir, SidecarName).toPath,
      JsonMethods.compact(JsonMethods.render(j)).getBytes("UTF-8"))
    ()
  }

  /** The listing recorded in a generation directory, if any. */
  def load(genDir: String): Option[Listing] = {
    val f = new java.io.File(genDir, SidecarName)
    if (!f.exists()) None
    else {
      val j = JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      def lng(v: JValue): Long = v match {
        case JLong(n) => n; case JInt(n) => n.toLong
        case o => throw new IllegalStateException(s"bad $SidecarName entry $o")
      }
      val files = (j \ "files") match {
        case JArray(xs) => xs.map {
          case JArray(List(JString(rel), size, mtime)) => Entry(rel, lng(size), lng(mtime))
          case o => throw new IllegalStateException(s"bad $SidecarName entry $o")
        }
        case _ => Nil
      }
      (j \ "root") match {
        case JString(root) => Some(Listing(root, files))
        case _             => None
      }
    }
  }
}
