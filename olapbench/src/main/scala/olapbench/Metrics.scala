package olapbench

/** The metric names and units of `BENCHMARK.json`: every untraced run
  * reports all end-to-end metrics, every traced run all per-layer metrics.
  * A per-layer metric of a layer the workload does not exercise reads 0.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "query_p50_ms" -> "ms",
    "throughput_per_s" -> "1/s",
    "freshness_s" -> "s",
    "storage_bytes_per_input_byte" -> "ratio",
    "peak_rss_mb" -> "MB")

  /** Rules as they count themselves in `graft.plans.RewriteStats`. */
  val rules: Seq[String] = Seq("starJoinElimination", "timeBucketPruning",
    "sumOfLiteralRewrite", "rollupRouting", "percentileRewrite")

  val perLayer: Seq[(String, String)] = Seq(
    "plans.plan_ms_p50" -> "ms",
    "plans.rewrite_fires_per_query" -> "count") ++
    rules.map(r => s"plans.fires.$r" -> "count") ++ Seq(
    "plans.rewritten_share" -> "ratio",
    "serve.exec_ms_p50" -> "ms",
    "serve.rollup_share" -> "ratio",
    "serve.cube_share" -> "ratio",
    "serve.raw_share" -> "ratio",
    "serve.rows_scanned_per_query" -> "count",
    "serve.bytes_scanned_per_query" -> "B",
    "build.cube_s" -> "s",
    "build.lattice_s" -> "s",
    "build.cube_bytes" -> "B",
    "build.lattice_bytes" -> "B",
    "refresh.dirty_buckets" -> "count",
    "refresh.cube_rows_written" -> "count",
    "refresh.bytes_written_per_appended_byte" -> "ratio",
    "refresh.spark_jobs" -> "count",
    "refresh.live_generations" -> "count",
    "ops.exact_dedup_s" -> "s",
    "ops.minhash_s" -> "s",
    "ops.components_s" -> "s",
    "ops.quality_s" -> "s",
    "ops.decontaminate_s" -> "s",
    "ops.docs_in" -> "count",
    "ops.exact_dedup_rows_out" -> "count",
    "ops.minhash_pairs" -> "count",
    "ops.components_rows_out" -> "count",
    "ops.quality_rows_out" -> "count",
    "ops.decontaminate_rows_out" -> "count",
    "ops.candidate_precision" -> "ratio",
    "ops.planted_dup_recall" -> "ratio",
    "exec.stages_per_op" -> "count",
    "exec.tasks_per_op" -> "count",
    "exec.executor_cpu_s_per_op" -> "s",
    "exec.gc_s_per_op" -> "s",
    "exec.shuffle_bytes_per_op" -> "B",
    "trace.overhead_pct" -> "%")

  /** Fail on a missing or unknown metric; in a traced run, first fill the
    * per-layer metrics of layers the workload did not exercise with 0.
    */
  def complete(r: Report, traced: Boolean): Unit = {
    val want = if (traced) perLayer else endToEnd
    if (traced) want.foreach { case (k, u) =>
      if (!r.metrics.contains(k)) r.metric(k, 0.0, u, "layer not exercised by this workload")
    }
    val names = want.map(_._1).toSet
    val unknown = r.metrics.keys.filterNot(names)
    val missing = names.filterNot(r.metrics.contains)
    require(unknown.isEmpty && missing.isEmpty,
      s"metrics out of contract: unknown ${unknown.mkString(",")} missing ${missing.mkString(",")}")
    want.foreach { case (k, u) => require(r.metrics(k)._2 == u, s"metric $k must be in $u") }
  }
}
