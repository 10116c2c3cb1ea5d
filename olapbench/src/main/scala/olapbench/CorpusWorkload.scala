package olapbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Quality}

/** `corpus_curation`: a document curation pipeline over a seeded corpus —
  * exact dedup -> minhash pairs -> components (keep the best member of each
  * duplicate cluster) -> quality filter -> decontaminate against an
  * evaluation set. Every pass starts from the raw corpus and writes each
  * stage's output, as a pipeline run would; after one untimed warm-up pass
  * over a tenth-size corpus, passes repeat for `seconds`.
  *
  * The corpus is generated, not read: documents of 30..89 words over the
  * repository test corpus's vocabulary, with stated rates of planted exact
  * duplicates, near duplicates (3% of words replaced), low-quality
  * documents (60% symbol tokens) and documents containing a 12-word span
  * of an evaluation document.
  */
object CorpusWorkload {

  val Docs = 20000
  val EvalDocs = 200
  val ExactDupRate = 0.05
  val NearDupRate = 0.05
  val LowQualityRate = 0.05
  val ContaminatedRate = 0.02
  val Threshold = 0.7
  /** Planted duplicate pairs that must end with at most one member kept. */
  val MinRecall = 0.95

  private val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch", "dup")
  private val symbols = Seq("#", "##", "...", "&&", "$$", "%%")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String)

  /** The corpus and its ground truth, from the seed alone. */
  final case class Corpus(docs: Seq[Doc], eval: Seq[Doc], dupOf: Map[Long, Long],
                          lowQuality: Set[Long], contaminated: Set[Long])

  def generate(seed: Long, docCount: Int): Corpus = {
    val rnd = new java.util.SplittableRandom(seed)
    def words(n: Int): Array[String] = Array.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val eval = (0 until EvalDocs).map(i => Doc(i, words(40 + rnd.nextInt(40)).mkString(" "), "en", "eval"))
    val docs = new Array[Doc](docCount)
    val dupOf = Map.newBuilder[Long, Long]
    val low, cont = Set.newBuilder[Long]
    for (i <- 0 until docCount) {
      val u = rnd.nextDouble()
      val id = i.toLong
      val lang = if (rnd.nextInt(5) < 2) "en" else Seq("de", "fr", "es", "zh")(rnd.nextInt(4))
      val src = s"src${rnd.nextInt(20)}"
      val text =
        if (i > 100 && u < ExactDupRate) {
          val j = rnd.nextInt(i); dupOf += id -> docs(j).doc_id; docs(j).text
        } else if (i > 100 && u < ExactDupRate + NearDupRate) {
          val j = rnd.nextInt(i); dupOf += id -> docs(j).doc_id
          docs(j).text.split(" ").map(w => if (rnd.nextDouble() < 0.03) vocab(rnd.nextInt(vocab.size)) else w)
            .mkString(" ")
        } else if (u < ExactDupRate + NearDupRate + LowQualityRate) {
          low += id
          words(30 + rnd.nextInt(60)).map(w => if (rnd.nextDouble() < 0.6) symbols(rnd.nextInt(symbols.size)) else w)
            .mkString(" ")
        } else if (u < ExactDupRate + NearDupRate + LowQualityRate + ContaminatedRate) {
          cont += id
          val e = eval(rnd.nextInt(EvalDocs)).text.split(" ")
          val at = rnd.nextInt(e.length - 12)
          (words(10 + rnd.nextInt(30)) ++ e.slice(at, at + 12) ++ words(10 + rnd.nextInt(30))).mkString(" ")
        } else words(30 + rnd.nextInt(60)).mkString(" ")
      docs(i) = Doc(id, text, lang, src)
    }
    Corpus(docs.toSeq, eval, dupOf.result(), low.result(), cont.result())
  }

  def write(spark: SparkSession, c: Corpus, dir: Path): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    c.docs.toDF().repartition(4).write.parquet(dir.resolve("documents.parquet").toString)
    c.eval.toDF().coalesce(1).write.parquet(dir.resolve("eval.parquet").toString)
  }

  /** One pass; returns the kept ids, and per stage (name, seconds, rows out). */
  final case class Pass(kept: Seq[Long], stages: Seq[(String, Double, Long)],
                        wallS: Double, candidatePrecision: Option[Double])

  def pass(ctx: Ctx, in: Path, out: Path, measurePrecision: Boolean): Pass = {
    val spark = ctx.spark
    val trace = ctx.trace
    val stages = scala.collection.mutable.ArrayBuffer.empty[(String, Double, DataFrame)]
    def stage(name: String, api: String)(df: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val path = out.resolve(name).toString
      trace.span("graft.operators", api)(df.write.parquet(path))
      val res = spark.read.parquet(path)
      stages += ((name, (System.nanoTime() - t0) / 1e9, res))
      res
    }
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(in.resolve("documents.parquet").toString)
    val eval = spark.read.parquet(in.resolve("eval.parquet").toString)
    val unique = stage("exact_dedup", "Dedup.exactTextDedup")(Dedup.exactTextDedup(docs, "doc_id", "text"))
    val pairs = stage("minhash", "Dedup.minhashDupPairs")(
      Dedup.minhashDupPairs(unique, "doc_id", "text", threshold = Threshold))
    val kept = stage("components", "Dedup.connectedComponents+keptByQuality") {
      val clusters = Dedup.connectedComponents(pairs, "idA", "idB")
      Dedup.keptByQuality(unique, "doc_id", Quality.linearScore(col("text")), clusters)
    }
    val good = stage("quality", "Quality.gopherRules") {
      val rep = Quality.ngramRepetitionCols(col("text"), n = 2)
      kept.filter(Quality.alphaWordRatio(col("text")) >= 0.8 &&
        Quality.symbolWordRatio(col("text")) <= 0.1 &&
        Quality.meanWordLength(col("text")).between(2.0, 10.0) &&
        rep("top_ngram_char_frac") <= 0.3)
    }
    val clean = stage("decontaminate", "Dedup.decontaminate") {
      val hits = Dedup.decontaminate(good, "doc_id", "text", eval, "text", n = 8)
      good.join(hits, Seq("doc_id"), "left_anti")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // outside the pass's wall time: row counts of the written stage outputs
    val counted = stages.toSeq.map { case (n, s, df) => (n, s, df.count()) }
    val ids = clean.select("doc_id").collect().map(_.getLong(0)).toSeq
    val precision = if (!measurePrecision) None else Some {
      val cands = trace.span("graft.operators", "Dedup.minhashCandidates")(
        Dedup.minhashCandidates(unique, "doc_id", "text").count())
      if (cands == 0) 1.0 else counted.find(_._1 == "minhash").get._3 / cands.toDouble
    }
    Pass(ids, counted, wall, precision)
  }

  /** Report queries over the `curated` view, each with its expected rows. */
  def reportQueries(kept: Seq[Doc]): Seq[(String, Array[Row])] = {
    def rows(xs: Iterable[Seq[Any]]) = xs.map(Row.fromSeq).toArray
    Seq(
      "SELECT lang, count(*) AS docs, sum(length(text)) AS chars FROM curated GROUP BY lang" ->
        rows(kept.groupBy(_.lang).map { case (l, ds) => Seq(l, ds.size.toLong, ds.map(_.text.length.toLong).sum) }),
      "SELECT source, count(*) AS docs FROM curated GROUP BY source" ->
        rows(kept.groupBy(_.source).map { case (s, ds) => Seq(s, ds.size.toLong) }),
      "SELECT CAST(length(text) / 100 AS INT) AS bucket, count(*) AS docs FROM curated GROUP BY 1" ->
        rows(kept.groupBy(_.text.length / 100).map { case (b, ds) => Seq(b, ds.size.toLong) }),
      "SELECT count(*) AS docs, count(DISTINCT source) AS sources, max(length(text)) AS longest FROM curated" ->
        rows(Seq(Seq(kept.size.toLong, kept.map(_.source).distinct.size.toLong, kept.map(_.text.length).max))))
  }

  def run(ctx: Ctx, docs: Int): Unit = {
    val r = ctx.report
    val trace = ctx.trace
    // set-up, three times: the corpus is generated and written from the seed
    val genS = (0 until 3).map { i =>
      val t0 = System.nanoTime()
      write(ctx.spark, generate(ctx.seed, docs), ctx.runDir.resolve(s"corpus-$i"))
      (System.nanoTime() - t0) / 1e9
    }
    val sessionS = (System.currentTimeMillis() - ctx.jvmStartMs) / 1e3 - genS.sum
    val corpus = generate(ctx.seed, docs)
    val in = ctx.runDir.resolve("corpus-2")
    val inputBytes = Stats.treeBytes(in.resolve("documents.parquet"))
    r.say(f"corpus: $docs docs ($inputBytes bytes), planted: ${corpus.dupOf.size} duplicates, " +
      f"${corpus.lowQuality.size} low-quality, ${corpus.contaminated.size} contaminated; " +
      f"generations ${genS.map(s => f"$s%.2f").mkString(", ")} s after ${sessionS}%.2f s session start")

    // warm-up pass over a small corpus of another seed: JIT and code
    // generation of the stages, which a pipeline worker pays once; it counts
    // as set-up, so work moved out of the timed passes still shows
    val tWarm = System.nanoTime()
    val warm = ctx.runDir.resolve("warmup-corpus")
    write(ctx.spark, generate(ctx.seed + 1, docs / 10), warm)
    trace.recording = false
    pass(ctx, warm, ctx.runDir.resolve("warmup-pass"), measurePrecision = false)
    val warmS = (System.nanoTime() - tWarm) / 1e9

    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    // a traced run needs an untraced pass to measure its own overhead
    val minPasses = if (trace.enabled) 2 else 1
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      trace.recording = passes.size % 2 == 0
      val out = ctx.runDir.resolve(s"pass-${passes.size}")
      passes += trace.span("op", s"pass-${passes.size}")(
        pass(ctx, in, out, measurePrecision = trace.enabled && passes.isEmpty))
    }
    trace.recording = true
    trace.drain()

    // answer checks: same kept set every pass (and every run of this seed),
    // planted duplicates resolved, contamination removed, junk filtered
    val kept = passes.head.kept.toSet
    val digest = Stats.digest(passes.head.kept)
    passes.zipWithIndex.tail.foreach { case (p, i) =>
      r.check(Stats.digest(p.kept) == digest, s"pass $i kept a different document set")
    }
    val memo = ctx.runDir.getParent.resolve("digests").resolve(s"corpus-seed${ctx.seed}-$docs.txt")
    if (java.nio.file.Files.exists(memo)) {
      val before = new String(java.nio.file.Files.readAllBytes(memo), "UTF-8").trim
      r.check(before == digest, s"kept-set digest $digest differs from an earlier run's $before")
    } else {
      java.nio.file.Files.createDirectories(memo.getParent)
      java.nio.file.Files.write(memo, digest.getBytes("UTF-8"))
    }
    // the curation report: statistics of the curated output, the queries an
    // analyst runs on it; three rounds, every answer checked against the
    // generated corpus
    val curated = ctx.runDir.resolve(s"pass-${passes.size - 1}").resolve("decontaminate")
    ctx.spark.read.parquet(curated.toString).createOrReplaceTempView("curated")
    val keptDocs = corpus.docs.filter(d => kept(d.doc_id))
    val reportMs = (0 until 3).flatMap(_ => reportQueries(keptDocs).map { case (sql, want) =>
      val t0 = System.nanoTime()
      val got = ctx.spark.sql(sql).collect()
      val ms = (System.nanoTime() - t0) / 1e6
      r.check(Stats.sameAnswer(got, want), s"curation report differs from the corpus: $sql")
      ms
    })
    val resolved = corpus.dupOf.count { case (d, s) => !(kept(d) && kept(s)) }
    val recall = resolved / corpus.dupOf.size.toDouble
    r.check(recall >= MinRecall, f"planted duplicate recall $recall%.4f below $MinRecall")
    r.check(corpus.contaminated.forall(!kept(_)), "a contaminated document was kept")
    r.check(corpus.lowQuality.forall(!kept(_)), "a low-quality document was kept")
    r.say(f"warm-up pass (${docs / 10} docs, generation included) ${warmS}%.2f s; kept ${kept.size} of $docs docs, digest $digest; planted duplicate recall $recall%.4f; " +
      s"passes: ${passes.size}, stage seconds of pass 0: " +
      passes.head.stages.map { case (n, s, rows) => f"$n $s%.2f ($rows rows)" }.mkString(", "))

    val wall = passes.map(_.wallS).toSeq
    if (!trace.enabled) {
      val stageMs = passes.flatMap(_.stages.map(_._2 * 1000)).toSeq
      val outBytes = passes.indices.map(i =>
        Stats.treeBytes(ctx.runDir.resolve(s"pass-$i").resolve("decontaminate"))).map(_.toDouble)
      r.metric("setup_s", sessionS + Stats.median(genS) + warmS, "s",
        s"JVM + session + median of ${genS.size} corpus generations + warm-up pass")
      r.metric("query_p50_ms", Stats.median(reportMs), "ms", s"curation report queries, n=${reportMs.size}")
      r.say(f"pipeline stage query median ${Stats.median(stageMs)}%.1f ms (n=${stageMs.size})")
      r.metric("throughput_per_s", Stats.median(wall.map(docs / _)), "1/s",
        s"docs_per_s at $docs docs, median of n=${wall.size} passes")
      r.metric("freshness_s", Stats.median(wall), "s", s"raw corpus to curated output, n=${wall.size}")
      r.metric("storage_bytes_per_input_byte", Stats.median(outBytes) / inputBytes, "ratio",
        "curated output over raw corpus")
    } else {
      val traced = passes.zipWithIndex.filter(_._2 % 2 == 0).map(_._1)
      def stageS(n: String) = Stats.median(traced.map(_.stages.find(_._1 == n).get._2).toSeq)
      def rows(n: String) = traced.head.stages.find(_._1 == n).get._3.toDouble
      r.metric("ops.exact_dedup_s", stageS("exact_dedup"), "s", s"median of ${traced.size} traced passes")
      r.metric("ops.minhash_s", stageS("minhash"), "s")
      r.metric("ops.components_s", stageS("components"), "s")
      r.metric("ops.quality_s", stageS("quality"), "s")
      r.metric("ops.decontaminate_s", stageS("decontaminate"), "s")
      r.metric("ops.docs_in", docs.toDouble, "count")
      r.metric("ops.exact_dedup_rows_out", rows("exact_dedup"), "count")
      r.metric("ops.minhash_pairs", rows("minhash"), "count")
      r.metric("ops.components_rows_out", rows("components"), "count")
      r.metric("ops.quality_rows_out", rows("quality"), "count")
      r.metric("ops.decontaminate_rows_out", rows("decontaminate"), "count")
      r.metric("ops.candidate_precision", passes.head.candidatePrecision.get, "ratio",
        "confirmed pairs / minhash candidate pairs")
      r.metric("ops.planted_dup_recall", recall, "ratio")
      val stageExec = trace.of("graft.operators").filter(_.name != "Dedup.minhashCandidates")
        .map(trace.execUnder)
      val n = stageExec.size.toDouble
      r.metric("exec.stages_per_op", stageExec.map(_.stages).sum / n, "count", s"per stage, n=${stageExec.size}")
      r.metric("exec.tasks_per_op", stageExec.map(_.tasks).sum / n, "count")
      r.metric("exec.executor_cpu_s_per_op", stageExec.map(_.cpuNs).sum / 1e9 / n, "s")
      r.metric("exec.gc_s_per_op", stageExec.map(_.gcMs).sum / 1e3 / n, "s")
      r.metric("exec.shuffle_bytes_per_op", stageExec.map(_.shuffleBytes).sum / n, "B")
      val untraced = passes.zipWithIndex.filter(_._2 % 2 == 1).map(_._1.wallS).toSeq
      r.metric("trace.overhead_pct", Stats.overheadPct(Seq((traced.map(_.wallS).toSeq, untraced))), "%",
        s"traced passes n=${traced.size} vs untraced n=${untraced.size}")
    }
  }
}
