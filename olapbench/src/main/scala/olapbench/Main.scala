package olapbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its tracer, its inputs' seed,
  * the measuring time, the run's private directories, and the report.
  */
final case class Ctx(spark: SparkSession, trace: Trace, seed: Long,
                     seconds: Double, runId: String, runDir: Path,
                     cubeRoot: Path, report: Report, jvmStartMs: Long)

/** What a run prints: human-readable lines (sample counts included), the
  * metrics of the machine-readable result, and the operation tally.
  */
final class Report {
  val lines = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  def say(s: String): Unit = lines += s

  /** Count one checked operation; a false `ok` counts it as failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; say(s"FAILED: $what") }
  }

  def metric(name: String, value: Double, unit: String, note: String = ""): Unit = {
    require(!value.isNaN && !value.isInfinite, s"metric $name is $value")
    metrics(name) = (value, unit)
    say(f"$name%-40s $value%14.4f $unit%-6s $note")
  }

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${BigDecimal(v).underlying.stripTrailingZeros.toPlainString}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Benchmark entry point, started by `olapbench/run.py` with the program
  * compiled from the same checkout. Arguments:
  * `<workload> <seed> <seconds> <trace 0|1> <run dir> <cube root>`.
  * Prints the human-readable report and, last, `RESULT <json>`.
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "bi_refresh" -> (CubeWorkload.run(_, CubeWorkload.Full)),
    "corpus_curation" -> (CorpusWorkload.run(_, CorpusWorkload.Docs)),
    // both workloads at toy size, run once at build time to record the JVM
    // class-data archive that later runs start from
    "warmup" -> { ctx =>
      CubeWorkload.run(ctx, CubeWorkload.Size(0.001, 10))
      CorpusWorkload.run(ctx, 1000)
    })

  def main(args: Array[String]): Unit = {
    require(args.length == 6, "usage: <workload> <seed> <seconds> <trace> <run dir> <cube root>")
    val Array(workload, seed, seconds, traceArg, runDir, cubeRoot) = args
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val dir = Paths.get(runDir).toAbsolutePath
    Files.createDirectories(dir)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .appName(s"olapbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", dir.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Graft.install(spark)
    val traced = traceArg == "1"
    val trace = new Trace(spark.sparkContext, traced)
    val report = new Report
    report.say(s"olapbench $workload seed=$seed seconds=$seconds trace=$traced " +
      s"cores=$cores run=${dir.getFileName}")
    val ctx = Ctx(spark, trace, seed.toLong, seconds.toDouble, dir.getFileName.toString,
      dir, Paths.get(cubeRoot).toAbsolutePath, report, jvmStartMs)
    try {
      run(ctx)
      if (!traced) report.metric("peak_rss_mb", Stats.peakRssMb(), "MB", "JVM peak resident set, VmHWM")
      if (workload != "warmup") Metrics.complete(report, traced)
      if (traced && workload != "warmup") {
        val out = dir.getParent.resolve("traces").resolve(s"$workload-seed$seed-${dir.getFileName}.jsonl")
        trace.write(out)
        report.say(s"spans written to $out")
      }
    } finally spark.stop()
    report.lines.foreach(println)
    println("RESULT " + report.json)
  }
}
