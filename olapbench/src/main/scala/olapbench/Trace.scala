package olapbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans around the benchmark's own calls into each layer of the program,
  * with Spark task counters attributed to the innermost open span (the span
  * id rides on the job's local properties). Everything is a no-op unless
  * the run was started with `--trace 1`; spans stay in memory and are
  * written out once, at the end of the run.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  /** Workloads switch recording off for every other operation, so one
    * traced run measures its own overhead against untraced operations.
    */
  var recording: Boolean = true

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stageSpan = TrieMap.empty[Int, Int]
  private val execOf = TrieMap.empty[Int, Exec]

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { id =>
        val sid = id.toInt
        e.stageIds.foreach(stageSpan.put(_, sid))
        val x = execOf.getOrElseUpdate(sid, new Exec)
        x.jobs.incrementAndGet()
        x.stages.addAndGet(e.stageIds.size)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (sid <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val x = execOf.getOrElseUpdate(sid, new Exec)
        x.tasks.incrementAndGet()
        x.cpuNs.addAndGet(m.executorCpuTime)
        x.gcMs.addAndGet(m.jvmGCTime)
        x.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        x.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        x.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      }
  })

  /** Run `body` inside a span of `layer`; returns its result unchanged. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val parent = open.headOption
      val s = Span(spans.size, parent.map(_.id).getOrElse(-1),
        parent.map(_.op).getOrElse(spans.size), layer, name, System.nanoTime())
      spans += s
      open = s :: open
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Spans of `layer` (optionally only those named `name`). */
  def of(layer: String, name: String = null): Seq[Span] =
    spans.toSeq.filter(s => s.layer == layer && (name == null || s.name == name))

  /** Spark counters of a span and every span nested under it. */
  def execUnder(root: Span): ExecTotals = {
    val ids = mutable.Set(root.id)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    ids.toSeq.flatMap(execOf.get).foldLeft(ExecTotals())(_ + _.totals)
  }

  /** Spans and their counters as JSON lines (only called with tracing on). */
  def write(path: java.nio.file.Path): Unit = {
    org.apache.spark.olapbench.ListenerDrain(sc)
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val e = execOf.get(s.id).map(_.totals).getOrElse(ExecTotals())
      val counts = e.asMap.toSeq.map { case (k, v) => s""""exec.$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""counts":{$counts}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }

  /** Make every task event of finished jobs visible to [[execUnder]]. */
  def drain(): Unit = if (enabled) org.apache.spark.olapbench.ListenerDrain(sc)
}

object Trace {
  val SpanKey = "olapbench.span"

  final case class Span(id: Int, parent: Int, op: Int, layer: String,
                        name: String, startNs: Long) {
    var endNs: Long = 0L
  }

  final class Exec {
    import java.util.concurrent.atomic.AtomicLong
    val jobs, stages, tasks, cpuNs, gcMs, shuffleBytes, recordsRead, bytesWritten = new AtomicLong
    def totals: ExecTotals = ExecTotals(jobs.get, stages.get, tasks.get, cpuNs.get, gcMs.get,
      shuffleBytes.get, recordsRead.get, bytesWritten.get)
  }

  final case class ExecTotals(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                              cpuNs: Long = 0, gcMs: Long = 0, shuffleBytes: Long = 0,
                              recordsRead: Long = 0, bytesWritten: Long = 0) {
    def +(o: ExecTotals): ExecTotals = ExecTotals(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, cpuNs + o.cpuNs, gcMs + o.gcMs, shuffleBytes + o.shuffleBytes,
      recordsRead + o.recordsRead, bytesWritten + o.bytesWritten)
    def asMap: Map[String, Double] = Map("jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
      "tasks" -> tasks.toDouble, "executor_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "shuffle_bytes" -> shuffleBytes.toDouble, "records_read" -> recordsRead.toDouble,
      "bytes_written" -> bytesWritten.toDouble)
  }
}
