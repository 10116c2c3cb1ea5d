package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality scoring, language identification, and document
  * fingerprinting.
  *
  * These are composed from `org.apache.spark.sql.functions` built-ins
  * (including the higher-order array functions) or, on the hot paths, are
  * native Catalyst expressions
  * ([[org.apache.spark.sql.graft.NativeTextExprs]]), so they evaluate inside
  * the JVM with no UDF/serialization cost, distribute trivially, and keep the
  * scan's predicate pushdown and column pruning intact. The reference engine
  * has no text layer (its scalar surface is `jscodegen/JSCodeGenerator.scala`);
  * this module is the beyond-parity training-data surface layered on the same
  * expression-first philosophy.
  */
object TextFunctions {

  /** Let-binding idiom: evaluate `value` once per row and reference it
    * cheaply in `body` via the lambda variable. Without this, a lambda that
    * references an expensive subexpression N times re-evaluates it N times —
    * Spark's subexpression elimination does not reach inside higher-order-
    * function lambdas. (`transform` over a 1-element array is the cheapest
    * available binder; the extra array allocation is one pointer.)
    */
  def let1(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  /** Whitespace tokens of a document: the maximal runs of its UTF-8 bytes
    * that hold none of space, `\t`, `\n`, `\x0B`, `\f`, `\r` (empty or
    * whitespace-only → empty array; null → null), tokenized in one native
    * pass ([[org.apache.spark.sql.graft.NativeTextExprs.TokensExpr]]). On
    * every input this equals `array_remove(split(text, "\\s+"), "")`,
    * malformed UTF-8 included (decoded to U+FFFD first, as `split` does),
    * and the oracle restatement `list_filter(string_split_regex(text,
    * '\s+'), x -> x <> '')`. Dropping empty pieces, not a `trim`, is what
    * keeps tab- or newline-edged text from producing phantom empty tokens.
    */
  def tokens(text: Column): Column =
    org.apache.spark.sql.graft.NativeTextExprs.tokens(text)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: words are split at letter/digit/punctuation
    * boundaries and long alpha runs count one extra piece per 4 chars — a
    * deterministic stand-in for a real tokenizer's subword granularity,
    * computable without any vocabulary.
    */
  def subwordCount(text: Column): Column = {
    // drop empties, not trim: SQL trim strips only spaces (see [[tokens]]);
    // array_remove stays inside codegen where a filter() lambda would not
    val pieces = array_remove(
      split(text, "(?<=[a-zA-Z])(?=[0-9])|(?<=[0-9])(?=[a-zA-Z])|\\s+|(?=[^a-zA-Z0-9\\s])"),
      "")
    val extra = aggregate(
      pieces, lit(0L),
      (acc, p) => acc + greatest(lit(0L), ((length(p) - 1) / 4).cast("long")))
    (size(pieces).cast("long") + extra).as("subwords")
  }

  /** Distinct-token ratio in [0,1]: low values signal boilerplate/spam. */
  def distinctTokenRatio(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(0.0))
      .otherwise(size(array_distinct(t)).cast("double") / size(t).cast("double"))
  }

  /** Ratio of non-alphanumeric, non-space characters. */
  def punctRatio(text: Column): Column = {
    val cleaned = regexp_replace(text, "[\\p{L}\\p{N}\\s]", "")
    when(length(text) === 0, lit(0.0))
      .otherwise(length(cleaned).cast("double") / length(text).cast("double"))
  }

  /** English stopword ratio among tokens (tiny fixed list — a heuristic
    * feature, not a linguistic claim).
    */
  val enStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on", "for",
      "with", "as", "at", "by", "it", "this", "that")

  def stopwordRatio(text: Column): Column = {
    val t = tokens(lower(text))
    val n = size(t)
    val stops = size(filter(t, w => w.isin(enStopwords.map(x => x: Any): _*)))
    when(n === 0, lit(0.0)).otherwise(stops.cast("double") / n.cast("double"))
  }

  /** Composite quality score in [0,1]: rewards mid-length documents with
    * diverse tokens, low punctuation noise and a plausible stopword rate.
    * Weights are arbitrary but fixed; the value is a *ranking* feature.
    */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val lengthScore = least(n / lit(50.0), lit(1.0)) * when(n > 2000, 0.5).otherwise(1.0)
    val diversity = distinctTokenRatio(text)
    val punct = punctRatio(text)
    val stop = stopwordRatio(text)
    val stopScore = lit(1.0) - abs(stop - lit(0.15)) * 2.0
    greatest(lit(0.0), least(lit(1.0),
      lengthScore * 0.3 + diversity * 0.3 +
        (lit(1.0) - least(punct * 5.0, lit(1.0))) * 0.2 +
        greatest(stopScore, lit(0.0)) * 0.2))
  }

  /** Language-marker token sets for the n-gram/function-word language-ID
    * heuristic. Latin-script languages are scored by function-word hits;
    * CJK by codepoint range.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "en", "un", "una", "es", "por"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est", "un", "une", "que", "pour", "dans", "du"))

  /** Identify the language of `text` among en/es/de/fr/zh.
    *
    * Heuristic: any CJK ideograph → `zh`; otherwise the Latin language whose
    * function-word marker set hits the most tokens (ties broken by the fixed
    * en>es>de>fr order); no hits → `und`. Pure column algebra: the per-language
    * scores are computed with `filter`/`size` over the token array and the
    * argmax with `greatest`-style chained `when`s, so the whole thing is one
    * projection — no UDF, no shuffle.
    */
  def langId(text: Column): Column =
    org.apache.spark.sql.graft.NativeTextExprs.langIdNative(text,
      Seq("en", "es", "de", "fr").map(l => l -> langMarkers(l)))

  /** 64-bit rolling-hash fingerprint of the token sequence (order-sensitive):
    * `h = xxhash64(h, token)` folded over tokens. Identical token
    * sequences — regardless of whitespace layout — produce identical
    * fingerprints; the hash-chain form never overflows (ANSI-mode safe).
    */
  def fingerprint(text: Column): Column =
    org.apache.spark.sql.graft.NativeTextExprs.fingerprint64(tokens(text))

  /** SQL-portable polynomial rolling-hash fingerprint (Karp–Rabin,
    * winnowing-lite): each token hashes to a base-31 char-code polynomial
    * mod M = 2^31-1, the document fingerprint is the minimum base-131 hash
    * over all 4-token windows (or the whole-sequence fold when shorter).
    * Every intermediate stays far below 2^53, so any engine with 64-bit
    * integer arithmetic recomputes it bit-for-bit — unlike the xxhash64
    * chain of [[fingerprint]], this one has a cross-engine oracle.
    */
  def polyFingerprint(text: Column): Column = {
    val M = 2147483647L
    val B = 131L
    let1(transform(tokens(text), t =>
        aggregate(split(t, ""), lit(0L), (h, c) => (h * 31L + ascii(c)) % M))) { th =>
      val n = size(th)
      when(n >= 4,
        array_min(transform(sequence(lit(1), n - 3), i =>
          (element_at(th, i) * (B * B * B) + element_at(th, i + 1) * (B * B) +
            element_at(th, i + 2) * B + element_at(th, i + 3)) % M)))
        .otherwise(aggregate(th, lit(0L), (a, h) => (a * B + h) % M))
    }
  }

  /** 31-bit majority vote over a token-hash array column: bit `b` is set
    * iff at least half the hashes have bit `b` set (ties set the bit); an
    * empty list yields 0.
    */
  private def majorityVote31(th: Column): Column =
    when(size(th) === 0, lit(0L)).otherwise(
      aggregate(sequence(lit(0), lit(30)), lit(0L), (acc, b) => {
        // (h >> b) & 1 via exact double pow (h < 2^31 keeps it integral)
        val p = pow(lit(2.0), b.cast("double")).cast("long")
        val setCount = aggregate(th, lit(0L), (s, h) =>
          s + pmod((h.cast("double") / p.cast("double")).cast("long"), lit(2L)))
        acc + when(setCount * 2 >= size(th).cast("long"), p).otherwise(lit(0L))
      }))

  /** SQL-portable SimHash: 31-bit majority vote over the tokens'
    * polynomial char-code hashes — the cross-engine restatement of
    * [[simhash]] (whose xxhash64 token hash has no oracle). Every
    * intermediate fits 64-bit integer arithmetic, so any engine recomputes
    * it bit-for-bit.
    */
  def simhashPoly(text: Column): Column =
    org.apache.spark.sql.graft.NativeTextExprs.simhashPoly31(tokens(text))

  /** The composed-Column reference form of [[simhashPoly]] — the
    * differential-spec twin of the native single-pass expression (the
    * native evaluation must stay bit-identical to this chain, which is
    * what the DuckDB oracle restates).
    */
  private[graft] def simhashPolyComposed(text: Column): Column = {
    val M = 2147483647L
    let1(transform(tokens(text), t =>
        aggregate(split(t, ""), lit(0L), (h, c) => (h * 31L + ascii(c)) % M))) { th =>
      majorityVote31(th)
    }
  }

  /** 62-bit SQL-portable SimHash: two independent 31-bit majority votes
    * over Lehmer²-mixed token hashes (the [[graft.operators.Sampling]]
    * bucket arithmetic, salts 0/1), packed as `low + high * 2^31`.
    *
    * Why the mixing: the raw base-31 polynomial hash is LINEAR in the
    * char codes, so related tokens get correlated bit patterns and a
    * single 31-bit vote saturates on template-heavy corpora (measured:
    * 10,763 "duplicate" pairs at sf0.01 where the 64-bit xxhash signature
    * finds 17). Two decorrelated votes restore 62 bits of discrimination
    * (20 pairs) while every intermediate stays under 2^47 — exact in any
    * 64-bit-integer engine, ANSI-safe in Spark.
    */
  def simhashPoly62(text: Column): Column =
    org.apache.spark.sql.graft.NativeTextExprs.simhashPoly62(tokens(text))

  /** The composed-Column reference form of [[simhashPoly62]] — kept as the
    * differential-spec twin of the native single-pass expression (the
    * native evaluation must stay bit-identical to this chain, which is
    * what the DuckDB oracle restates).
    */
  private[graft] def simhashPoly62Composed(text: Column): Column = {
    val M = 2147483647L
    def mixed(th: Column, salt: Long): Column =
      transform(th, h =>
        pmod(pmod((h + lit(salt + 1L)) * 48271L, lit(M)) * 48271L, lit(M)))
    let1(transform(tokens(text), t =>
        aggregate(split(t, ""), lit(0L), (h, c) => (h * 31L + ascii(c)) % M))) { th =>
      majorityVote31(mixed(th, 0)) + majorityVote31(mixed(th, 1)) * 2147483648L
    }
  }

  /** SQL-portable order-sensitive chain fingerprint: base-131 fold of the
    * tokens' polynomial hashes mod 2^31-1 — the cross-engine restatement
    * of the xxhash64 chain in [[fingerprint]] (same structure, portable
    * hash), complementing [[polyFingerprint]]'s windowed minimum.
    */
  def chainFingerprintPoly(text: Column): Column =
    org.apache.spark.sql.graft.NativeTextExprs.chainFingerprintPoly(tokens(text))

  /** Composed reference twin of [[chainFingerprintPoly]] (see
    * [[simhashPolyComposed]]).
    */
  private[graft] def chainFingerprintPolyComposed(text: Column): Column = {
    val M = 2147483647L
    let1(transform(tokens(text), t =>
        aggregate(split(t, ""), lit(0L), (h, c) => (h * 31L + ascii(c)) % M))) { th =>
      aggregate(th, lit(0L), (a, h) => (a * 131L + h) % M)
    }
  }

  /** Canonical text form for exact-match layers: lower-cased, whitespace
    * runs collapsed to one space, trimmed. Pure projection (codegen'd
    * regexp), no UDF.
    */
  def normalizeText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** PII-style scrub: digit runs of `minRun`+ characters (phone/account/id
    * numbers) replaced with a placeholder token. A real pipeline composes
    * several of these patterns; the operator shape — global regexp over a
    * projected column, no shuffle — is the same for all of them.
    */
  def redactLongNumbers(c: Column, minRun: Int = 4, token: String = "<num>"): Column =
    regexp_replace(c, s"[0-9]{$minRun,}", token)

  /** Mask all but the last `keep` characters (card/phone tail display). */
  def maskTail(c: Column, keep: Int): Column = {
    val n = length(c)
    when(n <= keep, c)
      .otherwise(concat(org.apache.spark.sql.functions.repeat(lit("*"),
        (n - keep).cast("int")), substring(c, -keep, keep)))
  }

  /** MinHash signature over word `k`-shingles: component `i` is
    * `min over shingles of xxhash64(shingle, i)`, a shingle being `k`
    * consecutive [[tokens]] joined by single spaces (a document of at most
    * `k` tokens is one shingle). Empty docs get `Long.MaxValue` components
    * (never collide with real signatures). Evaluated from the text in one
    * native pass
    * ([[org.apache.spark.sql.graft.NativeTextExprs.MinHashExpr]]): each
    * shingle is hashed once, components derive from the base hash.
    */
  def minhashSignature(text: Column, k: Int, numHashes: Int): Column =
    org.apache.spark.sql.graft.NativeTextExprs.minhashSignature(text, k, numHashes)

  /** Estimated Jaccard similarity from two equal-length MinHash signatures:
    * the fraction of agreeing components.
    */
  def minhashJaccard(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x))
      .cast("double") / size(sigA).cast("double")

  /** 64-bit SimHash over the document's token multiset: bit `b` of the
    * result is 1 iff more token hashes have bit `b` set than clear.
    * Near-identical documents differ in few bits (small Hamming distance).
    * Evaluated by the single-pass native expression
    * ([[org.apache.spark.sql.graft.NativeTextExprs.SimHash64Expr]]).
    */
  def simhash(text: Column): Column =
    org.apache.spark.sql.graft.NativeTextExprs.simhash64(tokens(text))

  /** Hamming distance between two 64-bit SimHash values. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
