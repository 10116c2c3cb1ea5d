package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare of `tools/check.py`.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [<query>[,<query>...]] —
  * the optional third argument dumps only the named queries and their
  * oracle entries (seconds instead of minutes).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val wanted: String => Boolean = args.lift(2) match {
      case None => _ => true
      case Some(names) =>
        val set = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
        set.filterNot(SparkEntry.queries.contains).foreach(n => sys.error(s"unknown query $n"))
        set
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.shuffle.sort.bypassMergeThreshold",
        graft.Graft.shuffleWriterThreshold)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Graft.sparkLocalDir) // not /tmp (sweeper)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = new StringBuilder
    SparkEntry.queries.filter { case (name, _) => wanted(name) }.foreach { case (name, fn) =>
      // drop any stale dump first so a failed query can't masquerade as a
      // (wrong) result from an earlier run
      val dest = new java.io.File(s"$outDir/$name.parquet")
      if (dest.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(dest)
      }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // driver rounds keep only a tail of the output — persist failures
        // (with stack) to a file that survives into the next session
        failures.append(s"$name: $e\n")
        e.getStackTrace.take(8).foreach(f => failures.append(s"    at $f\n"))
      }
    }
    if (failures.nonEmpty) {
      new java.io.File("target").mkdirs()
      Files.writeString(Paths.get("target/verify_failures.log"), failures.toString)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The driver keys its correctness report by output FILENAME (with the
    // .parquet extension) and looks oracle SQL up by that key — round 1's
    // extensionless keys made every query report "no_oracle". Emit BOTH key
    // forms so either lookup convention matches. Built AFTER the queries
    // ran: entries that inline trained artifacts only exist post-run.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => wanted(k) }
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
