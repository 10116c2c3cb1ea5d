package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding: learn a merge table over a corpus and
  * encode text with it — the tokenizer-training step of an LLM data
  * pipeline, expressed Spark-first.
  *
  * Representation: a document is one string of sentinel-prefixed,
  * space-terminated symbols — every symbol starts with `\u0001` and ends
  * with a space, each word closed by the `\u0001</w>` end marker:
  * {{{ \u0001l \u0001o \u0001w \u0001</w> \u0001l ... }}}
  * A merge of pair (a, b) is then EXACTLY the plain string replacement
  * `"\u0001a \u0001b " -> "\u0001ab "`: the sentinel anchors the match
  * to the left symbol's start, the trailing space closes the right
  * symbol's end (both boundaries are part of the pattern — no prefix or
  * mid-symbol false hits), and `replace`'s left-to-right non-overlapping
  * semantics are precisely BPE's greedy merge order. That one
  * representation choice buys three things at once:
  *   - encoding is a chain of native `replace` calls — whole-stage
  *     codegen, zero shuffle, no UDF;
  *   - the SAME chain replays in any ANSI engine (DuckDB `replace` has
  *     identical semantics), so encoding is differentially verifiable;
  *   - token count is `countChar(sym, \u0001)` — no re-parse.
  *
  * Training scale shape: ONE corpus-scale shuffle total (the word-frequency
  * aggregate — map-side combined, vocabulary-sized output). Every Lloyd-like
  * iteration after that runs on the persisted word table: adjacent-pair
  * explode → partial-aggregated sum → 1-row argmax collect. At 100 TB the
  * word table is ~10⁸ rows (web-scale vocabulary) spread across the
  * cluster; per-iteration shuffle volume is pair-vocabulary-sized, and the
  * driver holds only the merge table (`nMerges` strings).
  *
  * The reference engine has no tokenizer layer; this extends the
  * beyond-parity training-data surface like [[Corpus]] / [[Quality]].
  */
object Bpe {

  /** Symbol sentinel: anchors every symbol start inside the symstring. */
  val S = "\u0001"
  /** Word-end marker symbol (standard BPE `</w>`). */
  val EndWord = "</w>"

  /** Per-character symbol split of one word (no sentinel yet), by CODE
    * POINT — an astral character (emoji, rare CJK) must stay one symbol,
    * never two lone surrogates (invalid strings whose oracle replay would
    * diverge: the SQL engine's per-char split is code-point based). The
    * `(?<=.)` lookbehind splits after each full code point by SPECIFIED
    * regex semantics (`.` consumes a surrogate pair); Spark's `split(w,
    * "")` happens to be code-point safe too (UTF8String iteration — unlike
    * `java.lang.String.split`), but that is an implementation detail, not
    * a contract. The filter drops empty pieces either form can produce.
    * `(?s)` makes `.` match line terminators too (U+2028/U+2029/U+0085
    * survive `\s+` tokenization; without DOTALL such a character would
    * fuse with its successor into one symbol, breaking the per-code-point
    * contract and diverging from an ANSI per-character split).
    */
  private def chars(word: Column): Column =
    array_remove(split(word, "(?s)(?<=.)"), "")

  /** One word as a sentinel-prefixed, space-TERMINATED symbol string:
    * `"\u0001h \u0001i \u0001</w> "`. Every symbol ends with a space, so
    * a merge pattern `"\u0001l \u0001r "` is bounded on BOTH sides: the
    * sentinel anchors the left symbol's start, the trailing space closes
    * the right symbol's end. Without the terminator, the pattern
    * `"\u0001a \u0001b"` would also match the PREFIX of a longer symbol
    * (`"\u0001a \u0001bc"`) and merge `a` with a piece of `bc` — found
    * by BpePropSpec's naive-reference differential on a random corpus.
    */
  private[operators] def wordSym(word: Column): Column =
    concat(
      array_join(transform(chars(word), c => concat(lit(S), c, lit(" "))), ""),
      lit(S + EndWord + " "))

  /** A whole document as one symstring (words in order, each closed by the
    * end marker). Empty text → empty string. The sentinel is stripped from
    * the input first, so a document cannot forge symbol boundaries.
    */
  def symbolize(text: Column): Column = {
    val toks = Corpus.terms(replace(text, lit(S)))
    when(size(toks) === 0, lit(""))
      .otherwise(array_join(transform(toks, wordSym(_)), ""))
  }

  /** Apply a learned merge table (rank order) to a symstring column — a
    * codegen'd chain of plain `replace` calls, one per merge.
    */
  def applyMerges(sym: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(sym) { case (c, (l, r)) =>
      replace(c, lit(S + l + " " + S + r + " "), lit(S + l + r + " "))
    }

  /** Encode text: symbolize then merge. The result stays in symstring form
    * (sentinel-prefixed, space-separated) — split on spaces and strip the
    * sentinel for readable tokens, or count tokens with [[bpeTokenCount]].
    */
  def encode(text: Column, merges: Seq[(String, String)]): Column =
    applyMerges(symbolize(text), merges)

  /** Token count of an encoded symstring = number of sentinels. */
  def bpeTokenCount(sym: Column): Column =
    (length(sym) - length(replace(sym, lit(S)))).cast("long")

  /** Per-document BPE token counts via the WORD table — the corpus-scale
    * path: encoding is word-local, so each distinct word is encoded once
    * and its length joins back to every occurrence. On Zipf-distributed
    * text the distinct-word table is orders of magnitude smaller than the
    * corpus, so the replace chain runs over the vocabulary instead of
    * every document byte (measured 3.9 → 1.0 s on the sf0.1 pack query);
    * the join is AQE-broadcast while the vocabulary fits, shuffle beyond.
    * Identical counts to `bpeTokenCount(encode(text))` — same chain, same
    * words. Documents with no tokens are absent (join with a left side and
    * coalesce to 0 where every document must appear).
    */
  def tokenCountsByWord(docs: DataFrame, idCol: String, textCol: String,
                        merges: Seq[(String, String)]): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(Corpus.terms(replace(col(textCol), lit(S)))).as("g_w"))
    // the vocabulary-sized (word -> encoded length) table: the replace
    // chain runs once per DISTINCT word
    val lens = toks.select("g_w").distinct()
      .select(col("g_w"),
        bpeTokenCount(applyMerges(wordSym(col("g_w")), merges)).as("g_len"))
    // occurrences pick up their word's length via a broadcast hash join
    // (lens is vocabulary-sized — AQE broadcasts while it fits, shuffles
    // on the 8-byte-ish word key beyond), then ONE doc-keyed shuffle with
    // map-side combine sums per document. An earlier shape pre-grouped
    // (doc, word) frequencies before the join; that spent a full extra
    // corpus-scale exchange to shrink a join that was already
    // broadcast-shuffle-free (measured at sf0.1: 2.3 -> 1.5 s on the
    // pack query). The double evaluation of `toks` (distinct + join) is
    // DELIBERATE: checkpointing the word occurrences to share one
    // evaluation stores wide strings and measured 1.5x SLOWER than
    // re-running the cheap codegen'd tokenize (unlike spanDedup's
    // narrow-long window table, where the same trick wins).
    toks.join(lens, "g_w")
      .groupBy(idCol)
      .agg(sum(col("g_len")).as("n_bpe"))
  }

  /** The trained vocabulary: every symbol the encoded corpus actually
    * uses, sorted, with dense ids — the (symbol → id) table a training
    * pipeline ships with its merge list. Bounded by
    * |distinct characters| + |merges| + 1 (the end marker), so the collect
    * is tokenizer-sized regardless of corpus size.
    */
  def vocab(docs: DataFrame, textCol: String,
            merges: Seq[(String, String)]): Seq[(String, Int)] =
    docs.select(explode(split(encode(col(textCol), merges), " ")).as("g_t"))
      .filter(col("g_t") =!= "")
      .select(replace(col("g_t"), lit(S)).as("g_sym"))
      .distinct()
      .collect().map(_.getString(0)).sorted.zipWithIndex.toSeq

  /** Encode text to token IDS under a merge table + vocabulary — the
    * training-ready form. One codegen'd projection (the replace chain plus
    * a literal-map lookup); symbols outside the vocabulary map to -1
    * (unknown), so serving data with unseen characters degrades loudly,
    * not silently.
    */
  def encodeIds(text: Column, merges: Seq[(String, String)],
                vocab: Seq[(String, Int)]): Column = {
    val m = typedLit(vocab.toMap)
    transform(
      filter(split(replace(encode(text, merges), lit(S)), " "), t => t =!= ""),
      t => coalesce(element_at(m, t), lit(-1)))
  }

  /** Learn `nMerges` merges. Deterministic: ties on pair frequency break by
    * (left, right) lexicographic order. Stops early when the best pair
    * occurs fewer than `minFreq` times (weighted by word frequency).
    *
    * The returned pairs are in merge-rank order, ready for [[applyMerges]].
    *
    * Per-merge cost is BOUNDED: the live replace chain never exceeds
    * `rematerializeEvery` merges. Every `rematerializeEvery` iterations the
    * partially-merged word table is re-materialized (`localCheckpoint`, the
    * [[Dedup.connectedComponents]] lineage-truncation discipline) and the
    * chain restarts from it. Without this, iteration i replays merges
    * 0..i−1 over the base table — O(nMerges² · vocab) total work and an
    * nMerges-deep plan: a real 32k-merge tokenizer would replay up to 32k
    * `replace`s per job (plan analysis alone degrades superlinearly in
    * that depth). With it, total work is O(nMerges · vocab) and plan
    * depth is capped, at the price of nMerges/rematerializeEvery
    * vocabulary-sized materializations (the word table, never the corpus).
    *
    * Default 192, measured not guessed (timed training runs): at gate
    * scale each checkpoint costs more than the short-chain replay it
    * saves (106-merge training: bounded-at-64 33 s vs naive 23 s — this
    * corpus's words fully fuse at 106 merges, so the quadratic term never
    * dominates there), so the default only kicks in past the depth where
    * chain replay and analysis cost genuinely bite; a 32k-merge run pays
    * ~170 amortized vocabulary-sized checkpoints. For the per-merge JOB
    * COUNT at 32k (one count round per merge, ~0.20 s of scheduling
    * each), see [[learnMergesBatched]] — the measured batching lever.
    */
  def learnMerges(docs: DataFrame, textCol: String, nMerges: Int,
                  minFreq: Long = 2L,
                  rematerializeEvery: Int = 192): Seq[(String, String)] =
    learnMergesProbed(docs, textCol, nMerges, minFreq, rematerializeEvery,
      _ => ())

  /** [[learnMerges]] with up to `batch` pairwise symbol-DISJOINT merges
    * taken per count round — the 32k-vocabulary job-count bound. The
    * sequential trainer runs one count job (plus a driver `collect` of
    * one row) PER MERGE: 32k merges = 32k scheduled jobs, and at the
    * measured ~0.20 s/job of pure per-job overhead (timed training runs,
    * local[32] at sf0.01 — cluster schedulers are no faster) that is
    * ~107 minutes of scheduling alone before any real work. Batching
    * takes the top pairs of ONE count round greedily, skipping any pair
    * sharing a symbol with one already taken this round: disjointness
    * proves the later pair's count could not have been changed by the
    * earlier merges (adjacency only changes around the merged symbols),
    * so each taken pair carries its true sequential count. Job count
    * drops to ~nMerges/batch (BpeSpec locks the measured bound: a
    * batch=8 run schedules well under half the jobs of batch=1 for the
    * same merge table). Measured (96 merges, sf0.01
    * local[32]): sequential 19 s (~0.20 s/round), batch=8 3.6 s,
    * batch=32 2.3 s — a 32k-merge run drops from ~1.8 h of per-merge
    * rounds to minutes (batch=256 ≈ 125 count rounds).
    *
    * Fidelity: `batch = 1` is EXACTLY [[learnMerges]] (BpeSpec locks
    * equality). For `batch > 1` the one divergence from sequential order
    * is that a pair involving a symbol CREATED by an earlier merge of
    * the same round (e.g. ("th","e") right after ("t","h")) cannot be
    * seen until the next round's recount, so it may be ranked up to
    * `batch-1` positions later than a strictly sequential trainer would
    * place it — the standard throughput/fidelity knob of fast BPE
    * trainers. Merge tables stay deterministic for a given (corpus,
    * batch).
    */
  def learnMergesBatched(docs: DataFrame, textCol: String, nMerges: Int,
                         minFreq: Long = 2L,
                         rematerializeEvery: Int = 192,
                         batch: Int = 256): Seq[(String, String)] =
    learnMergesProbed(docs, textCol, nMerges, minFreq, rematerializeEvery,
      _ => (), batch)

  /** [[learnMerges]] with a per-iteration probe reporting the LIVE chain
    * length (merges applied on top of the last materialized table) — test
    * instrumentation so BpeSpec can lock the boundedness invariant
    * structurally instead of with a flaky timing assertion.
    */
  private[graft] def learnMergesProbed(
      docs: DataFrame, textCol: String, nMerges: Int, minFreq: Long,
      rematerializeEvery: Int, probe: Int => Unit,
      batch: Int = 1): Seq[(String, String)] = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    require(rematerializeEvery >= 1,
      s"rematerializeEvery must be >= 1, got $rematerializeEvery")
    require(batch >= 1, s"batch must be >= 1, got $batch")
    // the ONLY corpus-scale pass: word frequencies (map-side combined)
    val words = docs
      .select(explode(Corpus.terms(col(textCol))).as("g_w"))
      .groupBy("g_w").agg(count(lit(1)).as("g_wc"))
      .select(wordSym(col("g_w")).as("g_s"), col("g_wc"))
      .persist()
    try {
      val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      // base = word table with all merges up to the last rematerialization
      // already applied; pending = merges since then (the live chain)
      var base = words
      val pending = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var done = false
      while (merges.size < nMerges && !done) {
        if (pending.size >= rematerializeEvery) {
          // fold the pending chain into the stored table and truncate
          // lineage — eager so the old checkpoint blocks can be dropped
          base = base.select(
            applyMerges(col("g_s"), pending.toSeq).as("g_s"), col("g_wc"))
            .localCheckpoint(true)
          pending.clear()
        }
        probe(pending.size)
        // current symstrings = materialized base + the bounded live chain (a
        // narrow projection — recomputing a SHORT chain per iteration is
        // cheaper than re-persisting the table every round)
        val cur = base.select(
          applyMerges(col("g_s"), pending.toSeq).as("g_s"), col("g_wc"))
        // symbols are space-TERMINATED, so a plain split leaves one
        // trailing empty piece — drop it or it pairs with the last symbol
        val arr = filter(split(col("g_s"), " "), x => x =!= "")
        // top of the count table: 1 row for the sequential trainer; a
        // small over-fetch for the batched one (conflicting pairs are
        // skipped, so more than `batch` candidates may be scanned)
        val fetch = if (batch == 1) 1 else math.max(batch * 4, 16)
        val best = cur
          .filter(size(arr) >= 2)
          .select(col("g_wc"), explode(transform(
            sequence(lit(0), size(arr) - 2),
            i => struct(
              element_at(arr, i + 1).as("l"),
              element_at(arr, i + 2).as("r")))).as("g_p"))
          .groupBy(col("g_p.l").as("l"), col("g_p.r").as("r"))
          .agg(sum(col("g_wc")).as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(fetch).collect()
        // greedy disjoint selection in rank order: a pair sharing a
        // symbol with one already taken THIS round is skipped (its count
        // may have changed; next round's recount re-ranks it) — a pair
        // disjoint from every earlier taken pair provably carries its
        // true sequential count. batch == 1 degenerates to exactly the
        // sequential argmax.
        val used = scala.collection.mutable.Set.empty[String]
        var took = 0
        val room = math.min(batch, nMerges - merges.size)
        for (row <- best.iterator
               if took < room && row.getLong(2) >= minFreq) {
          val (l, r) = (row.getString(0), row.getString(1))
          if (!used(l) && !used(r)) {
            val m = (l.substring(1), r.substring(1)) // strip the sentinel
            merges += m
            pending += m
            used += l; used += r
            took += 1
          }
        }
        if (took == 0) done = true
      }
      merges.toSeq
    } finally { words.unpersist(); () }
  }
}
