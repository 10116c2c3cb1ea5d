package olapbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

object Stats {

  /** Linear-interpolated percentile `p` in [0, 1] of `xs` (non-empty). */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val i = p * (s.size - 1)
    val lo = math.floor(i).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (i - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** The highest of the usual percentiles with at least ten samples beyond
    * it, or None when there are fewer than twenty samples.
    */
  def tailPct(n: Int): Option[Double] =
    Seq(0.99, 0.95, 0.9, 0.8, 0.75, 0.5).find(p => n * (1 - p) >= 10)

  /** Process CPU, GC and JIT-compiler milliseconds so far, for the report. */
  def jvmMs(): (Double, Double, Double) = {
    import java.lang.management.ManagementFactory
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
    (cpu, gc, ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)
  }

  /** Peak resident set of this JVM, in MB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Bytes of the regular files under `roots`, each (device, inode) counted
    * once: generations share unchanged files by hard link.
    */
  def uniqueInodeBytes(roots: Seq[Path]): Long = {
    val seen = scala.collection.mutable.Set.empty[(Any, Any)]
    var total = 0L
    roots.filter(Files.exists(_)).foreach { root =>
      val it = Files.walk(root)
      try it.filter(Files.isRegularFile(_)).forEach { f =>
        val a = Files.readAttributes(f, "unix:dev,ino,size")
        if (seen.add((a.get("dev"), a.get("ino")))) total += a.get("size").asInstanceOf[Long]
      } finally it.close()
    }
    total
  }

  /** Bytes of the regular files under `root` (inputs have no hard links). */
  def treeBytes(root: Path): Long = uniqueInodeBytes(Seq(root))

  /** Bytes of the regular files under `root`, each link counted again. */
  def treeBytesNaive(root: Path): Long = {
    val it = Files.walk(root)
    try it.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally it.close()
  }

  /** Tracing overhead in percent: the median over groups of like operations
    * of (median traced time / median untraced time); 0 without a pair.
    */
  def overheadPct(groups: Seq[(Seq[Double], Seq[Double])]): Double = {
    val ratios = groups.collect { case (on, off) if on.nonEmpty && off.nonEmpty => median(on) / median(off) }
    if (ratios.isEmpty) 0.0 else (median(ratios) - 1.0) * 100.0
  }

  /** Rows in a canonical order with doubles kept as doubles, so two answers
    * compare independently of row order and of summation order.
    */
  private def canon(rows: Array[Row]): Seq[Seq[Any]] = {
    def norm(v: Any): Any = v match {
      case d: java.math.BigDecimal => d.doubleValue
      case f: Float => f.toDouble
      case n: Number if !v.isInstanceOf[Double] => n.longValue
      case a: scala.collection.Seq[_] => a.map(norm).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(norm).mkString("{", ",", "}")
      case other => other
    }
    def key(r: Seq[Any]): String = r.map {
      case d: Double => f"$d%.6e"
      case x => String.valueOf(x)
    }.mkString("|")
    rows.toSeq.map(_.toSeq.map(norm)).sortBy(key)
  }

  /** Same rows, doubles equal to a relative 1e-9. */
  def sameAnswer(a: Array[Row], b: Array[Row]): Boolean = {
    val (x, y) = (canon(a), canon(b))
    x.size == y.size && x.zip(y).forall { case (r, s) =>
      r.size == s.size && r.zip(s).forall {
        case (u: Double, v: Double) =>
          u == v || math.abs(u - v) <= 1e-9 * math.max(math.abs(u), math.abs(v))
        case (u, v) => u == v
      }
    }
  }

  /** Order-independent digest of a set of ids. */
  def digest(ids: Seq[Long]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ids.sorted.foreach(i => md.update(java.nio.ByteBuffer.allocate(8).putLong(i).array()))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}
