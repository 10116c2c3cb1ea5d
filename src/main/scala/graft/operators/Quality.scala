package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.NativeTextExprs

import graft.functions.TextFunctions.let1

/** Document-quality filter rules in the style of the Gopher heuristics
  * (Rae et al. 2021, "Scaling Language Models", §A1.1 — public paper):
  * per-document repetition statistics plus simple well-formedness ratios.
  * Together with [[graft.functions.TextFunctions]] these are the standard
  * pre-training corpus filters (C4/Gopher/RefinedWeb family).
  *
  * Two kinds of rules live here:
  *   - **Scalar rules** are per-row projections: no shuffle, scan pruning
  *     intact. The word rules ([[meanWordLength]], [[alphaWordRatio]],
  *     [[symbolWordRatio]]) are native single passes over the text's bytes
  *     ([[org.apache.spark.sql.graft.NativeTextExprs]]); the line rules
  *     ([[duplicateLineCharFraction]], [[bulletOrEllipsisLineFraction]])
  *     are column algebra, quadratic in the *line* count of a document
  *     (fine: web documents have tens of lines, and the work is per-row,
  *     embarrassingly parallel).
  *   - **N-gram repetition** ([[ngramRepetition]]) is per-document too: one
  *     native pass groups the grams of a document instead of the
  *     explode/count/window formulation — zero shuffles, one scan, per-row
  *     work bounded by the document length.
  *
  * The reference engine has no text layer (scalar surface:
  * `jscodegen/JSCodeGenerator.scala`); this is beyond-parity training-data
  * surface.
  */
object Quality {

  /** Mean token length in characters (0.0 for empty documents). */
  def meanWordLength(text: Column): Column = NativeTextExprs.meanWordLength(text)

  /** Fraction of tokens containing at least one ASCII letter (Gopher keeps
    * documents where >= 80% of words have an alphabetic character).
    */
  def alphaWordRatio(text: Column): Column = NativeTextExprs.alphaWordRatio(text)

  /** Symbol-to-word ratio: occurrences of the Gopher symbol set
    * (`#`, `...`, `…`) per token. An ASCII ellipsis counts once however
    * long the dot run is.
    */
  def symbolWordRatio(text: Column): Column = NativeTextExprs.symbolWordRatio(text)

  /** Non-empty lines of a document (trailing whitespace stripped). */
  private def lines(text: Column): Column =
    filter(transform(split(text, "\n"), l => rtrim(l)), l => length(l) > 0)

  /** Fraction of characters contained in lines whose exact text occurs more
    * than once in the document (Gopher "duplicate line character fraction").
    * Quadratic in the line count of one document — per-row compute only.
    */
  def duplicateLineCharFraction(text: Column): Column = let1(lines(text)) { ls =>
    val total = aggregate(ls, lit(0L), (a, l) => a + length(l))
    val dupChars = aggregate(ls, lit(0L), (a, l) =>
      a + when(size(filter(ls, x => x === l)) > 1, length(l)).otherwise(0L))
    when(total === 0, lit(0.0)).otherwise(dupChars.cast("double") / total.cast("double"))
  }

  /** Fraction of lines starting with a bullet or ending with an ellipsis
    * (Gopher drops documents where > 90% of lines start with a bullet or
    * > 30% end with "...").
    */
  def bulletOrEllipsisLineFraction(text: Column): Column = let1(lines(text)) { ls =>
    val hits = size(filter(ls, l =>
      l.startsWith("•") || l.startsWith("- ") || l.startsWith("* ") ||
        l.endsWith("...") || l.endsWith("…")))
    when(size(ls) === 0, lit(0.0))
      .otherwise(hits.cast("double") / size(ls).cast("double"))
  }

  /** Per-document word n-gram repetition statistics (Gopher §A1.1):
    * one row per input document with
    *   - `top_ngram_char_frac`: characters covered by occurrences of the
    *     single most frequent n-gram, as a fraction of total token
    *     characters (ties broken by the lexicographically smallest gram;
    *     overlapping occurrences may double-count, so the value is clamped
    *     to 1.0 — same convention as the paper's released reimplementations);
    *   - `dup_ngram_char_frac`: fraction of token characters lying inside
    *     at least one n-gram that occurs more than once (position-coverage
    *     union — each character counted once).
    * Documents shorter than `n` tokens score 0.0 on both.
    *
    * Character totals count token characters only (whitespace excluded), so
    * the metric is layout-invariant like the tokenizer.
    *
    * Scale shape: a PURE PROJECTION — the statistics are per-document, so
    * they are computed per row by one native pass that groups equal grams
    * in a hash table and sums covered token characters. No shuffle, no
    * window, no self-join: the corpus cost is one scan, and the per-row
    * work is O(m·n) for m tokens — bounded by the document, not the
    * corpus. (Degenerate mega-
    * documents should be length-truncated upstream, the same upstream
    * hygiene the exploded formulation needed against gram-key skew.)
    */
  def ngramRepetition(df: DataFrame, idCol: String, textCol: String,
                      n: Int): DataFrame =
    df.select(col(idCol),
        ngramRepetitionCols(col(textCol), n).as("g_rep"))
      .select(col(idCol),
        col("g_rep.top_ngram_char_frac").as("top_ngram_char_frac"),
        col("g_rep.dup_ngram_char_frac").as("dup_ngram_char_frac"))

  /** Column form of [[ngramRepetition]]: a single struct column
    * `(top_ngram_char_frac, dup_ngram_char_frac)` computable alongside the
    * scalar rules in ONE projection — a caller combining several quality
    * signals gets one scan of the corpus with no join re-attaching
    * per-document stats by id.
    */
  def ngramRepetitionCols(text: Column, n: Int): Column = {
    require(n >= 1, s"ngram size must be >= 1, got $n")
    NativeTextExprs.ngramRepetition(text, n)
  }

  /** Empty-safe adjacent-bigram structs of a token array (`slice`+`zip`
    * instead of `sequence`, whose descending ranges explode on short docs).
    */
  private def bigramsOf(t: Column): Column = {
    val n1 = greatest(size(t) - 1, lit(0))
    zip_with(slice(t, lit(1), n1), slice(t, lit(2), n1),
      (a, b) => struct(a.as("g_a"), b.as("g_b")))
  }

  /** Corpus-trained bigram language-model counts: one row per (context,
    * next) token pair with its count and the context's total — the trained
    * artifact behind [[bigramLmScore]]. Unlike [[linearScore]]'s documented
    * stand-in weights, this IS a real trained model: the counts come from
    * the corpus, deterministically. One corpus-scale shuffle (map-side
    * combined, output bounded by the realized bigram vocabulary); the
    * context totals derive from the pair counts (no second corpus pass).
    */
  def bigramLm(docs: DataFrame, textCol: String): DataFrame = {
    val pairs = docs
      .select(explode(bigramsOf(Corpus.terms(col(textCol)))).as("g_bg"))
      .select(col("g_bg.g_a").as("g_a"), col("g_bg.g_b").as("g_b"))
    val c2 = pairs.groupBy("g_a", "g_b").agg(count(lit(1)).as("g_cnt"))
    val c1 = c2.groupBy("g_a").agg(sum("g_cnt").as("g_ctx"))
    c2.join(c1, "g_a")
  }

  /** Statistical LM quality scoring (the CCNet-perplexity pipeline stage):
    * each document's score is the MEAN conditional probability
    * `p(w_i | w_{i-1}) = c(ab)/c(a·)` of its bigrams under a trained
    * [[bigramLm]]; unseen bigrams contribute 0. The mean-probability form
    * (not log-perplexity) is deliberate: every step is a count ratio (one
    * exactly-rounded IEEE division) + the decimal-routed mean, so any ANSI
    * engine reproduces the score bit-for-bit — `ln`/`exp` are correctly
    * rounded in no libm and would leak last-ulp drift into the oracle. The
    * ranking is what the filter consumes, and mean-p ranks fluency the
    * same direction as perplexity.
    *
    * Join shape: scored bigrams equi-join the counts table on the pair key
    * — AQE broadcasts it while it fits, shuffle-joins beyond; either way
    * cost is proportional to (scored tokens + bigram vocabulary), never
    * corpus². Documents with fewer than 2 tokens have no bigrams and are
    * absent from the output (nothing to score).
    *
    * Output: (idCol, n_bigrams, lm_score).
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String,
                    lm: DataFrame): DataFrame = {
    val pairs = docs
      .select(col(idCol), explode(bigramsOf(Corpus.terms(col(textCol))))
        .as("g_bg"))
      .select(col(idCol), col("g_bg.g_a").as("g_a"), col("g_bg.g_b").as("g_b"))
    pairs
      .join(lm, Seq("g_a", "g_b"), "left")
      .select(col(idCol),
        coalesce(col("g_cnt").cast("double") / col("g_ctx").cast("double"),
          lit(0.0)).as("g_p"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        (graft.Tables.dsum(col("g_p")) /
          count(lit(1)).cast("double")).as("lm_score"))
  }

  /** Hashed-bigram linear quality scorer — fastText-style classifier
    * INFERENCE as one projection (Joulin et al. 2016, "Bag of Tricks
    * for Efficient Text Classification"): each token-bigram hashes into one
    * of `numBuckets` feature buckets, the document margin is the mean
    * bucket weight, and the score squashes the margin into (0, 1). This is
    * the model-based quality-filter stage of a training pipeline (CCNet /
    * LLaMA-style "looks like Wikipedia" scoring) with the same contract as
    * [[graft.operators.Multimodal]]'s codec: the WEIGHTS are a documented
    * deterministic stand-in (no trained artifact ships in this sandbox),
    * the distributed inference plumbing is real — hashing, bucket lookup,
    * accumulation and squashing are one native single-pass projection
    * ([[org.apache.spark.sql.graft.NativeTextExprs.LinearScoreExpr]]), zero
    * shuffles, scan pruning intact, per-row cost linear in document length.
    * Replace its stand-in weight `(bucket + 1) * A mod M` (A = 2654435761
    * mod M, Knuth's multiplicative constant) with a weight-vector lookup to
    * serve a real model.
    *
    * Definition, per document: each token hashes to the base-31 polynomial
    * of its code points mod M = 2^31 - 1; bigram `(a, b)` falls in bucket
    * `(a * 131 + b) % M % numBuckets`; the margin is the mean bucket weight
    * divided by M, times 2, minus 1, and the score is
    * `0.5 + 0.5 * margin / (1 + |margin|)`.
    *
    * Every step is integer arithmetic below 2^53 followed by
    * exactly-rounded double ops (one division, the rational squash
    * `m/(1+|m|)` — never libm), so any engine reproduces the score
    * bit-for-bit: the classifier has a cross-engine oracle, which a
    * `sigmoid`/`exp` formulation would not.
    *
    * Documents with fewer than 2 tokens have no bigram features and score
    * a neutral 0.5.
    */
  def linearScore(text: Column, numBuckets: Int = 4096): Column = {
    require(numBuckets >= 2, s"need at least 2 feature buckets, got $numBuckets")
    NativeTextExprs.linearScore(text, numBuckets)
  }
}
