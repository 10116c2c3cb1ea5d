package graft.cube

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The file listings of a cube's star tables as of one cube generation
  * (`_graft_star_files.json` beside the generation's descriptor): for every
  * physical table, the relative path, size and modification time of each
  * data file the generation's build or refresh had available when it
  * started reading, and, from the file's parquet footer, its row count and
  * the min/max of each integral join-key column.
  *
  * It is what lets [[CubeRefresh]] prove a pure append and refresh from
  * the delta alone: when every recorded file of every star table is still
  * present and unchanged, the rows the cube lacks live only in the files
  * the listings do not name. A rewritten or removed file breaks that
  * argument, and the refresh takes its full path instead.
  *
  * The listings are taken BEFORE the sources are read. On the full path
  * only the files the flattening frame actually reads are recorded
  * ([[readBy]]): a file that lands between listing and read is then in the
  * cube but not in the listing, and the next refresh merely handles it
  * again; a file the frame's file index missed is not recorded, and the
  * next refresh finds it appended.
  */
object StarListing {

  val SidecarName = "_graft_star_files.json"

  /** One data file: path relative to the table root, size, mtime (ns) and,
    * once its footer was read, its row count and the min/max of each
    * integral key column whose every row group recorded one.
    */
  final case class Entry(rel: String, size: Long, mtimeNs: Long,
                         rows: Option[Long] = None,
                         keyRanges: Map[String, (Long, Long)] = Map.empty) {
    def sameFile(o: Entry): Boolean = rel == o.rel && size == o.size && mtimeNs == o.mtimeNs
  }

  /** One table's listing: the root it was taken under and its files. */
  final case class Listing(root: String, files: Seq[Entry]) {
    /** Total rows, when every file's footer was read. */
    def rows: Option[Long] =
      if (files.forall(_.rows.isDefined)) Some(files.flatMap(_.rows).sum) else None
  }

  /** The listings of every star table, by physical table name. */
  final case class Star(fact: String, tables: Map[String, Listing]) {
    def factListing: Listing = tables(fact)
    def dims: Map[String, Listing] = tables - fact
  }

  /** Changes of `now` against a recorded listing: the files it lacks, or
    * `None` when a recorded file was rewritten or removed.
    */
  def appended(recorded: Listing, now: Listing): Option[Seq[Entry]] = {
    val cur = now.files.map(e => e.rel -> e).toMap
    if (recorded.root != now.root ||
        !recorded.files.forall(e => cur.get(e.rel).exists(_.sameFile(e)))) None
    else {
      val known = recorded.files.map(_.rel).toSet
      Some(now.files.filterNot(e => known(e.rel)))
    }
  }

  /** Data files under `root` (or `root` itself when it is a file), sorted
    * by path, skipping the `_`- and `.`-prefixed names Spark's readers skip
    * too. The one walker for star listings and [[graft.Tables.contentTag]].
    */
  def dataFiles(root: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!java.nio.file.Files.isDirectory(root)) Seq(root)
    else {
      def visible(p: java.nio.file.Path) = {
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }
      val out = Seq.newBuilder[java.nio.file.Path]
      def walk(d: java.nio.file.Path): Unit = {
        val it = java.nio.file.Files.list(d)
        try it.iterator().forEachRemaining { p =>
          if (visible(p)) {
            if (java.nio.file.Files.isDirectory(p)) walk(p) else out += p
          }
        } finally it.close()
      }
      walk(root)
      out.result().sortBy(p => root.relativize(p).toString)
    }

  /** Data files under `root` with their identity (no footer read). */
  def list(root: String): Listing = {
    val base = java.nio.file.Paths.get(root)
    Listing(root, dataFiles(base).map { p =>
      val a = java.nio.file.Files.readAttributes(p,
        classOf[java.nio.file.attribute.BasicFileAttributes])
      Entry(base.relativize(p).toString, a.size(),
        a.lastModifiedTime().to(java.util.concurrent.TimeUnit.NANOSECONDS))
    })
  }

  /** The physical table playing the fact role. */
  def factTable(info: CubeInfo): Option[String] =
    info.roleOfTable.collectFirst {
      case (table, roles) if roles.contains(info.starSchema.factTable) => table }

  /** The fact table's source path (normalized) and its time column, when
    * both resolve from the cube's metadata.
    */
  def factSource(info: CubeInfo, tablePaths: Map[String, String]): Option[(String, String)] = {
    val factRole = info.starSchema.factTable
    for {
      physical <- factTable(info)
      path <- tablePaths.get(physical)
      srcTimeCol <- info.columnMapping.collectFirst {
        case ((role, src), dst) if role == factRole && dst == info.timeColumn => src }
    } yield (CubeCatalog.normalizePath(path), srcTimeCol)
  }

  /** The join keys by which the star reaches each physical dimension
    * table: per star edge into one of its roles, the edge's columns on the
    * dimension side.
    */
  def dimKeys(info: CubeInfo): Map[String, Seq[Seq[String]]] = {
    val physicalOf = for ((t, roles) <- info.roleOfTable; r <- roles) yield r -> t
    info.starSchema.relations
      .map(r => physicalOf(r.rightTable) -> r.joinCondition.map(_.rightCol))
      .groupBy(_._1).map { case (t, ks) => t -> ks.map(_._2).distinct }
  }

  /** The current listing of every star table, when the fact resolves and
    * every table is parquet (the only format whose appended files a
    * refresh reads on their own).
    */
  def listStar(info: CubeInfo, tablePaths: Map[String, String]): Option[Star] =
    for {
      fact <- factTable(info)
      paths = info.roleOfTable.keys.toSeq.map(t => t -> tablePaths.get(t))
      if paths.forall { case (_, p) =>
        p.exists(graft.sources.CubeSource.formatOf(_) == "parquet") }
    } yield Star(fact, paths.map { case (t, p) =>
      t -> list(CubeCatalog.normalizePath(p.get)) }.toMap)

  /** `star` with every entry's footer figures filled in: taken from
    * `known` for an unchanged file recorded there, read otherwise.
    */
  def withFigures(conf: => org.apache.hadoop.conf.Configuration, info: CubeInfo,
                  star: Star, known: Option[Star] = None): Star = {
    val keys = dimKeys(info)
    star.copy(tables = star.tables.map { case (t, l) =>
      val prior = known.flatMap(_.tables.get(t)).filter(_.root == l.root)
        .map(_.files.map(e => e.rel -> e).toMap).getOrElse(Map.empty)
      val keyCols = keys.getOrElse(t, Nil).flatten.distinct
      t -> l.copy(files = l.files.map { e =>
        prior.get(e.rel).filter(p => p.sameFile(e) && p.rows.isDefined)
          .getOrElse(figures(conf, l.root, e, keyCols))
      })
    })
  }

  /** `e` with its row count and key ranges read from its parquet footer. */
  private def figures(conf: org.apache.hadoop.conf.Configuration, root: String, e: Entry,
                      keyCols: Seq[String]): Entry = {
    val file = if (e.rel.isEmpty) new java.io.File(root) else new java.io.File(root, e.rel)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toURI), conf))
    try {
      var rows = 0L
      val lo = scala.collection.mutable.Map.empty[String, Long]
      val hi = scala.collection.mutable.Map.empty[String, Long]
      val unknown = scala.collection.mutable.Set.empty[String]
      reader.getFooter.getBlocks.forEach { block =>
        rows += block.getRowCount
        block.getColumns.forEach { chunk =>
          val c = chunk.getPath.toDotString
          if (keyCols.contains(c)) {
            val st = chunk.getStatistics
            val integral = chunk.getPrimitiveType.getPrimitiveTypeName match {
              case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32 |
                   org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 => true
              case _ => false
            }
            if (!integral || st == null || st.isEmpty) unknown += c
            else if (st.hasNonNullValue) {
              val mn = st.genericGetMin.asInstanceOf[Number].longValue
              val mx = st.genericGetMax.asInstanceOf[Number].longValue
              lo(c) = math.min(lo.getOrElse(c, mn), mn)
              hi(c) = math.max(hi.getOrElse(c, mx), mx)
            }
          }
        }
      }
      e.copy(rows = Some(rows), keyRanges = lo.keys.filterNot(unknown).map(c =>
        c -> ((lo(c), hi(c)))).toMap)
    } finally reader.close()
  }

  /** `star` restricted to the files `df` reads. A source frame fixes its
    * file index when it is built, which may be before the listing was
    * taken; recording a listed file the frame never read would mark its
    * rows as absorbed, and no later refresh would read it.
    */
  def readBy(star: Star, df: DataFrame): Star = {
    def abs(p: String) = java.nio.file.Paths.get(p).toAbsolutePath.normalize
    val analyzed = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed
    val read = analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.inputFiles.toSeq
        case _                   => Nil
      }
    }.flatten.map(f => abs(new org.apache.hadoop.fs.Path(f).toUri.getPath)).toSet
    star.copy(tables = star.tables.map { case (t, l) =>
      val root = abs(l.root)
      t -> l.copy(files = l.files.filter(e => read(root.resolve(e.rel).normalize)))
    })
  }

  def save(genDir: String, star: Star): Unit = {
    def num(v: Option[Long]): JValue = v.map(JLong(_): JValue).getOrElse(JNull)
    val j = JObject(
      "fact" -> JString(star.fact),
      "tables" -> JObject(star.tables.toSeq.sortBy(_._1).map { case (t, l) =>
        t -> (JObject(
          "root" -> JString(l.root),
          "files" -> JArray(l.files.map(e => JArray(List(JString(e.rel), JLong(e.size),
            JLong(e.mtimeNs), num(e.rows), JObject(e.keyRanges.toSeq.sortBy(_._1).map {
              case (c, (lo, hi)) => c -> (JArray(List(JLong(lo), JLong(hi))): JValue) }.toList)))
          ).toList)): JValue)
      }.toList))
    java.nio.file.Files.write(new java.io.File(genDir, SidecarName).toPath,
      JsonMethods.compact(JsonMethods.render(j)).getBytes("UTF-8"))
    ()
  }

  /** The listings recorded in a generation directory, if any. */
  def load(genDir: String): Option[Star] = {
    val f = new java.io.File(genDir, SidecarName)
    if (!f.exists()) None
    else {
      val j = JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      def bad(o: Any) = throw new IllegalStateException(s"bad $SidecarName entry $o")
      def lng(v: JValue): Long = v match {
        case JLong(n) => n; case JInt(n) => n.toLong
        case o => bad(o)
      }
      def listing(v: JValue): Listing = Listing(
        v \ "root" match { case JString(r) => r; case o => bad(o) },
        (v \ "files") match {
          case JArray(xs) => xs.map {
            case JArray(List(JString(rel), size, mtime, rows, JObject(ranges))) =>
              Entry(rel, lng(size), lng(mtime),
                rows match { case JNull | JNothing => None; case n => Some(lng(n)) },
                ranges.map {
                  case (c, JArray(List(lo, hi))) => c -> ((lng(lo), lng(hi)))
                  case o => bad(o)
                }.toMap)
            case o => bad(o)
          }
          case _ => Nil
        })
      (j \ "fact", j \ "tables") match {
        case (JString(fact), JObject(ts)) =>
          Some(Star(fact, ts.map { case (t, v) => t -> listing(v) }.toMap))
        case _ => None
      }
    }
  }
}
