package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression, XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text and hash-sketch hot paths.
  *
  * The text kernels ([[TokensExpr]], [[MinHashExpr]], the Gopher rules,
  * [[LinearScoreExpr]], [[NgramRepetitionExpr]]) read a document's UTF-8
  * bytes once through [[TextTokens]] instead of splitting it with a regex
  * and folding the pieces in interpreted higher-order functions; each
  * returns exactly what the column form it replaced returned.
  *
  * The composed higher-order-function versions re-hash every shingle string
  * once per signature component (64×) because each `array_min(transform(…))`
  * is an independent pass; these single-pass expressions hash each string
  * ONCE and derive the per-component values with cheap long-mixing —
  * bit-identical results (same `XxHash64Function` chain as
  * `xxhash64(s, lit(i))`) at a fraction of the cost. This is the extension
  * tier the reference reserves for its JS codegen
  * (`jscodegen/JSAggGenerator.scala`), re-expressed as a first-class
  * Catalyst `Expression`. Codegen note: higher-order functions don't
  * participate in whole-stage codegen either, so `CodegenFallback` here
  * gives up nothing while the interpreted loop works on primitive arrays.
  *
  * Lives under `org.apache.spark.sql` because `AbstractDataType` /
  * `ExpressionUtils` are `private[sql]` — the same packaging the reference
  * uses for its Spark-internal extension points
  * (`src/main/scala/org/apache/spark/sql/sources/druid/`).
  */
object NativeTextExprs {

  private val Seed = 42L

  /** Whitespace tokens of one document, as byte ranges of its UTF-8 text.
    *
    * A token is a maximal run of bytes other than space, `\t`, `\n`,
    * `\x0B`, `\f` and `\r` — Java's default `\s`, which
    * `split(text, "\\s+")` splits on (NBSP and `\x1C` are not separators).
    * The six separators are ASCII and no multi-byte UTF-8 sequence contains
    * an ASCII byte, so on well-formed UTF-8 these runs are exactly the
    * non-empty split pieces, byte for byte. Malformed input is first decoded
    * and re-encoded as `split` sees it (each malformed sequence becomes
    * U+FFFD). Token `i` is `bytes[start(i), end(i))`; `bytes` is never the
    * input's own buffer, so slices of it may outlive the input row.
    */
  private[graft] final class TextTokens private (val bytes: Array[Byte],
      val start: Array[Int], val end: Array[Int], val n: Int) {

    /** Characters (code points) of token `i`: its non-continuation bytes. */
    def chars(i: Int): Int = {
      var c = 0
      var p = start(i)
      while (p < end(i)) { if ((bytes(p) & 0xC0) != 0x80) c += 1; p += 1 }
      c
    }

    /** Base-31 polynomial of token `i`'s code points mod 2^31-1 — the
      * per-token hash of the poly family (`aggregate(split(t, ""), 0L,
      * (h, c) -> (h * 31 + ascii(c)) % M)`).
      */
    def polyHash(i: Int): Long = {
      var h = 0L
      var p = start(i)
      while (p < end(i)) {
        val c = bytes(p) & 0xFF
        val cp =
          if (c < 0x80) { p += 1; c }
          else if (c < 0xE0) { p += 2; ((c & 0x1F) << 6) | (bytes(p - 1) & 0x3F) }
          else if (c < 0xF0) {
            p += 3
            ((c & 0x0F) << 12) | ((bytes(p - 2) & 0x3F) << 6) | (bytes(p - 1) & 0x3F)
          } else {
            p += 4
            ((c & 0x07) << 18) | ((bytes(p - 3) & 0x3F) << 12) |
              ((bytes(p - 2) & 0x3F) << 6) | (bytes(p - 1) & 0x3F)
          }
        h = (h * 31L + cp) % PolyM
      }
      h
    }

    /** Token `i` and token `j` hold the same bytes. */
    def sameToken(i: Int, j: Int): Boolean =
      java.util.Arrays.equals(bytes, start(i), end(i), bytes, start(j), end(j))
  }

  private[graft] object TextTokens {

    private def isSeparator(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

    def apply(text: UTF8String): TextTokens = {
      val raw = text.getBytes
      val t = scan(if (raw eq text.getBaseObject) raw.clone() else raw)
      if (t != null) t else scan(text.toString.getBytes(StandardCharsets.UTF_8))
    }

    /** Tokens of `bytes` in one pass, or null when they are not well-formed
      * UTF-8 (checked only when a non-ASCII byte occurs).
      */
    private def scan(bytes: Array[Byte]): TextTokens = {
      // tokens are separated, so there are at most (length + 1) / 2
      val start = new Array[Int](bytes.length / 2 + 1)
      val end = new Array[Int](start.length)
      var n = 0
      var inToken = false
      var ascii = true
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i)
        if (isSeparator(b)) {
          if (inToken) { end(n - 1) = i; inToken = false }
        } else {
          if (!inToken) { start(n) = i; n += 1; inToken = true }
          if (b < 0) ascii = false
        }
        i += 1
      }
      if (inToken) end(n - 1) = bytes.length
      if (!ascii && !wellFormed(bytes)) null else new TextTokens(bytes, start, end, n)
    }

    /** Well-formed UTF-8 (Unicode table 3-7), the rule the JDK decoder
      * applies: no overlong forms, no surrogates, nothing above U+10FFFF.
      */
    private def wellFormed(b: Array[Byte]): Boolean = {
      def within(j: Int, lo: Int, hi: Int): Boolean =
        j < b.length && (b(j) & 0xFF) >= lo && (b(j) & 0xFF) <= hi
      var i = 0
      while (i < b.length) {
        val c = b(i) & 0xFF
        val len =
          if (c < 0x80) 1
          else if (c >= 0xC2 && c <= 0xDF) { if (within(i + 1, 0x80, 0xBF)) 2 else 0 }
          else if (c >= 0xE0 && c <= 0xEF) {
            if (within(i + 1, if (c == 0xE0) 0xA0 else 0x80, if (c == 0xED) 0x9F else 0xBF) &&
                within(i + 2, 0x80, 0xBF)) 3 else 0
          } else if (c >= 0xF0 && c <= 0xF4) {
            if (within(i + 1, if (c == 0xF0) 0x90 else 0x80, if (c == 0xF4) 0x8F else 0xBF) &&
                within(i + 2, 0x80, 0xBF) && within(i + 3, 0x80, 0xBF)) 4 else 0
          } else 0
        if (len == 0) return false
        i += len
      }
      true
    }
  }

  /** Modulus of the poly hash family: 2^31 - 1. */
  private val PolyM = 2147483647L

  /** Whitespace tokens of a text ([[TextTokens]]): equal, on every input, to
    * `array_remove(split(text, "\\s+"), "")`; null stays null.
    */
  case class TokensExpr(child: Expression)
      extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "tokens"

    override protected def nullSafeEval(input: Any): Any = {
      val t = TextTokens(input.asInstanceOf[UTF8String])
      val out = new Array[Any](t.n)
      var i = 0
      while (i < t.n) {
        out(i) = UTF8String.fromBytes(t.bytes, t.start(i), t.end(i) - t.start(i))
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** MinHash signature of a text's word `k`-shingles in one pass: component
    * `i` is the minimum over shingles of `xxhash64(shingle, i)`, where a
    * shingle is the space-joined bytes of `k` consecutive tokens — the bytes
    * `concat_ws(" ", slice(tokens, s, k))` produces. `n <= k` tokens form
    * one shingle; no tokens gives all `Long.MaxValue`. Each shingle is
    * joined into one reused buffer and hashed once; the components derive
    * from that base hash with `XXH64.hashInt`, the primitive form of
    * `xxhash64(int, seed)`.
    */
  case class MinHashExpr(child: Expression, k: Int, numHashes: Int)
      extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash"

    override protected def nullSafeEval(input: Any): Any = {
      val t = TextTokens(input.asInstanceOf[UTF8String])
      val mins = Array.fill(numHashes)(Long.MaxValue)
      if (t.n > 0) {
        val width = math.min(t.n, k)
        // single-space joins never exceed the text span they came from
        val buf = new Array[Byte](t.bytes.length)
        var s = 0
        while (s <= t.n - width) {
          var len = 0
          var j = s
          while (j < s + width) {
            if (j > s) { buf(len) = ' '; len += 1 }
            val l = t.end(j) - t.start(j)
            System.arraycopy(t.bytes, t.start(j), buf, len, l)
            len += l
            j += 1
          }
          val base = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, Seed)
          var c = 0
          while (c < numHashes) {
            val h = XXH64.hashInt(c, base)
            if (h < mins(c)) mins(c) = h
            c += 1
          }
          s += 1
        }
      }
      UnsafeArrayData.fromPrimitiveArray(mins)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Exact Jaccard of two sorted, distinct long sets (the
    * [[ShingleHashSetExpr]] form) by one merge:
    * `inter / (|A| + |B| - inter)`, 0.0 when both are empty.
    */
  case class SortedSetJaccardExpr(left: Expression, right: Expression)
      extends BinaryExpression with ExpectsInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(LongType), ArrayType(LongType))
    override def dataType: DataType = DoubleType
    override def prettyName: String = "sorted_set_jaccard"

    override protected def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val na = a.numElements()
      val nb = b.numElements()
      var i = 0
      var j = 0
      var inter = 0
      while (i < na && j < nb) {
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      val union = na + nb - inter
      if (union == 0) 0.0 else inter.toDouble / union.toDouble
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** A per-document double statistic computed from the text's
    * [[TextTokens]] in one pass; null text gives null.
    */
  sealed abstract class TokenStatExpr
      extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = DoubleType

    protected def stat(t: TextTokens): Double

    override protected def nullSafeEval(input: Any): Any =
      stat(TextTokens(input.asInstanceOf[UTF8String]))
  }

  /** Mean token length in characters; 0.0 without tokens. */
  case class MeanWordLengthExpr(child: Expression) extends TokenStatExpr {
    override def prettyName: String = "mean_word_length"

    override protected def stat(t: TextTokens): Double =
      if (t.n == 0) 0.0
      else {
        var chars = 0L
        var i = 0
        while (i < t.n) { chars += t.chars(i); i += 1 }
        chars.toDouble / t.n.toDouble
      }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Share of tokens holding an ASCII letter; 0.0 without tokens. */
  case class AlphaWordRatioExpr(child: Expression) extends TokenStatExpr {
    override def prettyName: String = "alpha_word_ratio"

    override protected def stat(t: TextTokens): Double =
      if (t.n == 0) 0.0
      else {
        var alpha = 0
        var i = 0
        while (i < t.n) {
          var p = t.start(i)
          var found = false
          while (!found && p < t.end(i)) {
            val c = t.bytes(p) | 0x20 // ASCII upper to lower case
            found = c >= 'a' && c <= 'z'
            p += 1
          }
          if (found) alpha += 1
          i += 1
        }
        alpha.toDouble / t.n.toDouble
      }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Gopher symbols per token: each `#`, each run of three or more dots
    * (once, however long) and each `…` of the text; 0.0 without tokens.
    */
  case class SymbolWordRatioExpr(child: Expression) extends TokenStatExpr {
    override def prettyName: String = "symbol_word_ratio"

    override protected def stat(t: TextTokens): Double =
      if (t.n == 0) 0.0
      else {
        val b = t.bytes
        var symbols = 0
        var dots = 0
        var i = 0
        while (i < b.length) {
          val c = b(i)
          if (c == '.') dots += 1
          else {
            if (dots >= 3) symbols += 1
            dots = 0
            // '…' is E2 80 A6 in UTF-8
            if (c == '#' || (c == 0xE2.toByte && i + 2 < b.length &&
                b(i + 1) == 0x80.toByte && b(i + 2) == 0xA6.toByte)) symbols += 1
          }
          i += 1
        }
        if (dots >= 3) symbols += 1
        symbols.toDouble / t.n.toDouble
      }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The hashed-bigram linear score of
    * [[graft.operators.Quality.linearScore]] in one pass: per-token poly
    * hashes, bigram `(a * 131 + b) % M % numBuckets`, weight
    * `(bucket + 1) * A % M`, mean weight rescaled to a margin in (-1, 1) and
    * squashed rationally; fewer than 2 tokens score 0.5. The double
    * operations run in the order of the column form, so the value is the
    * same bit for bit.
    */
  case class LinearScoreExpr(child: Expression, numBuckets: Int) extends TokenStatExpr {
    override def prettyName: String = "linear_score"

    private val A = 2654435761L % PolyM

    override protected def stat(t: TextTokens): Double =
      if (t.n < 2) 0.5
      else {
        var prev = t.polyHash(0)
        var sumW = 0L
        var i = 1
        while (i < t.n) {
          val h = t.polyHash(i)
          val bucket = (prev * 131L + h) % PolyM % numBuckets
          sumW += (bucket + 1L) * A % PolyM
          prev = h
          i += 1
        }
        val margin = (sumW.toDouble / (t.n - 1).toDouble) / PolyM.toDouble * 2.0 - 1.0
        0.5 + 0.5 * margin / (1.0 + math.abs(margin))
      }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 64-bit SimHash over a token array: bit `b` is set iff more token
    * hashes have bit `b` set than clear (ties -> 0, matching the composed
    * `ones * 2 > n` form where `n` counts all tokens).
    */
  case class SimHash64Expr(child: Expression)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val counts = new Array[Int](64)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        val s = arr.getUTF8String(i)
        if (s != null) {
          val h = XxHash64Function.hash(s, StringType, Seed)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) counts(b) += 1
            b += 1
          }
        }
        i += 1
      }
      var out = 0L
      var b = 0
      while (b < 64) {
        if (counts(b) * 2 > n) out |= (1L << b)
        b += 1
      }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 62-bit SQL-portable SimHash over a token array — the single-pass
    * evaluation of [[graft.functions.TextFunctions.simhashPoly62]]'s
    * composed form (which remains the spec reference): per token a base-31
    * polynomial hash of the UTF-16 code units mod 2^31-1 (matching the
    * `split(t,"") -> ascii` column chain and DuckDB's `ord`), two Lehmer²
    * mixes (salts 1/2), 31-bit majority votes (ties SET the bit, `>=`),
    * packed `low + high * 2^31`. Integer arithmetic only — bit-identical
    * to the oracle restatement by construction.
    */
  case class SimHashPoly62Expr(child: Expression)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash_poly62"

    private val M = 2147483647L

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return 0L
      val c1 = new Array[Int](31)
      val c2 = new Array[Int](31)
      var i = 0
      var counted = 0
      while (i < n) {
        val s = arr.getUTF8String(i)
        if (s != null) {
          val str = s.toString
          var h = 0L
          var j = 0
          // code points, not chars: split(t,"") keeps surrogate pairs
          // together (Java regex splits between code points) and ascii()
          // returns codePointAt(0) — as does DuckDB's ord()
          while (j < str.length) {
            val cp = str.codePointAt(j)
            h = (h * 31L + cp) % M
            j += Character.charCount(cp)
          }
          val t1 = ((h + 1L) * 48271L % M) * 48271L % M
          val t2 = ((h + 2L) * 48271L % M) * 48271L % M
          var b = 0
          while (b < 31) {
            if (((t1 >>> b) & 1L) == 1L) c1(b) += 1
            if (((t2 >>> b) & 1L) == 1L) c2(b) += 1
            b += 1
          }
          counted += 1
        }
        i += 1
      }
      // the composed form's size(th) counts every array slot; tokens()
      // never yields nulls, so counted == n in practice — still vote
      // against n for exact parity with the column chain
      var lo = 0L
      var hi = 0L
      var b = 0
      while (b < 31) {
        if (c1(b) * 2 >= n) lo |= (1L << b)
        if (c2(b) * 2 >= n) hi |= (1L << b)
        b += 1
      }
      lo + hi * 2147483648L
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Order-sensitive 64-bit rolling fingerprint of a token array:
    * `h = xxhash64(h, token)` folded over the tokens from `h = 0` —
    * bit-identical to `aggregate(tokens, 0L, (acc, t) => xxhash64(acc, t))`
    * (each step re-seeds with the accumulator: hash(t, hashLong(acc, 42))),
    * evaluated in one primitive loop instead of a per-element lambda frame.
    */
  case class Fingerprint64Expr(child: Expression)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = LongType
    override def prettyName: String = "fingerprint64"

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      var acc = 0L
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val s = arr.getUTF8String(i)
        // xxhash64(acc, t) = fold over the two children from seed 42; a
        // NULL child leaves the running hash unchanged (Spark semantics)
        val seeded = XXH64.hashLong(acc, Seed)
        acc = if (s == null) seeded else XxHash64Function.hash(s, StringType, seeded)
        i += 1
      }
      acc
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Distinct hashed word-`k`-shingles of a token array, as a sorted long
    * array — the shuffle-ready form of the shingle set, and the input
    * [[SortedSetJaccardExpr]] merges. Window hashes chain the per-token
    * xxhash64 values (k fold steps per window, order-sensitive) instead of
    * materializing the joined shingle string, so a document costs n token
    * hashes + n*k long mixes and ZERO string allocation. Set semantics
    * match the string shingle set barring 64-bit collisions within one
    * document pair (~(shingles/doc)^2 / 2^64 — negligible). n <= k tokens
    * form one whole-text shingle; empty input yields an empty array.
    */
  case class ShingleHashSetExpr(child: Expression, k: Int)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_hash_set"

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
      val th = new Array[Long](n)
      var i = 0
      while (i < n) {
        val s = arr.getUTF8String(i)
        th(i) = if (s == null) Seed else XxHash64Function.hash(s, StringType, Seed)
        i += 1
      }
      val width = if (n <= k) n else k
      val hashes = new Array[Long](n - width + 1)
      var start = 0
      while (start < hashes.length) {
        var h = Seed
        var j = 0
        while (j < width) { h = XXH64.hashLong(th(start + j), h); j += 1 }
        hashes(start) = h
        start += 1
      }
      java.util.Arrays.sort(hashes)
      var distinct = 1
      i = 1
      while (i < hashes.length) {
        if (hashes(i) != hashes(distinct - 1)) { hashes(distinct) = hashes(i); distinct += 1 }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hashes, distinct))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Language ID heuristic in one pass: any CJK ideograph → "zh";
    * otherwise the language (in declaration order) whose function-word
    * marker set hits the most lowercased whitespace tokens; zero hits →
    * "und". Exactly the semantics of the composed `TextFunctions.langId`
    * column algebra (which re-walked the token array once per language).
    */
  case class LangIdExpr(child: Expression, markers: Seq[(String, Seq[String])])
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def prettyName: String = "lang_id"

    @transient private lazy val sets: Array[(String, java.util.HashSet[String])] =
      markers.map { case (l, ws) =>
        val s = new java.util.HashSet[String]()
        ws.foreach(s.add)
        l -> s
      }.toArray
    @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")

    override protected def nullSafeEval(input: Any): Any = {
      val text = input.toString
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if (c >= 0x4e00 && c <= 0x9fff)
          return org.apache.spark.unsafe.types.UTF8String.fromString("zh")
        i += 1
      }
      // ROOT locale: matching Spark's lower(), immune to e.g. Turkish-I
      val trimmed = text.trim.toLowerCase(java.util.Locale.ROOT)
      val scores = new Array[Int](sets.length)
      if (trimmed.nonEmpty) {
        val toks = ws.split(trimmed)
        var t = 0
        while (t < toks.length) {
          var l = 0
          while (l < sets.length) {
            if (sets(l)._2.contains(toks(t))) scores(l) += 1
            l += 1
          }
          t += 1
        }
      }
      var best = 0
      var bestIdx = -1
      var l = 0
      while (l < sets.length) {
        if (scores(l) > best) { best = scores(l); bestIdx = l }
        l += 1
      }
      org.apache.spark.unsafe.types.UTF8String.fromString(
        if (bestIdx < 0) "und" else sets(bestIdx)._1)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Single-vote 31-bit poly SimHash — the
    * [[graft.functions.TextFunctions.simhashPoly]] chain in one primitive
    * pass (per-token base-31 code-point polynomial mod 2^31−1, then a
    * 31-bit majority vote against the token count; ties set the bit,
    * empty → 0). Bit-identical to the composed HOF chain, which the
    * DuckDB oracle restates; this evaluation avoids its per-character
    * 1-element string arrays and 31 re-folds of the hash list.
    */
  case class SimHashPoly31Expr(child: Expression)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash_poly31"

    private val M = 2147483647L

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return 0L
      val c = new Array[Int](31)
      var i = 0
      while (i < n) {
        val s = arr.getUTF8String(i)
        if (s != null) {
          val str = s.toString
          var h = 0L
          var j = 0
          while (j < str.length) {
            val cp = str.codePointAt(j)
            h = (h * 31L + cp) % M
            j += Character.charCount(cp)
          }
          var b = 0
          while (b < 31) {
            if (((h >>> b) & 1L) == 1L) c(b) += 1
            b += 1
          }
        }
        i += 1
      }
      var out = 0L
      var b = 0
      while (b < 31) {
        if (c(b) * 2 >= n) out |= (1L << b)
        b += 1
      }
      out
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Order-sensitive chain fingerprint over poly token hashes — the
    * [[graft.functions.TextFunctions.chainFingerprintPoly]] chain
    * (`a = (a*131 + h) mod 2^31−1` over the per-token polynomials) in one
    * pass; empty → 0. Bit-identical to the composed form the oracle
    * restates.
    */
  case class ChainFingerprintPolyExpr(child: Expression)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = LongType
    override def prettyName: String = "chain_fingerprint_poly"

    private val M = 2147483647L

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      var acc = 0L
      var i = 0
      while (i < n) {
        val s = arr.getUTF8String(i)
        var h = 0L
        if (s != null) {
          val str = s.toString
          var j = 0
          while (j < str.length) {
            val cp = str.codePointAt(j)
            h = (h * 31L + cp) % M
            j += Character.charCount(cp)
          }
        }
        acc = (acc * 131L + h) % M
        i += 1
      }
      acc
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Gopher word-n-gram repetition statistics of a text
    * ([[graft.operators.Quality.ngramRepetitionCols]]) in one pass over its
    * [[TextTokens]]. A gram is `n` consecutive tokens joined by single
    * spaces; grams are grouped by token bytes in an open-addressing table
    * (tokens hold no space, so equal grams are equal token runs), and no
    * gram string is built. The most frequent gram wins with ties to the
    * smallest in binary order of its joined bytes (`array_sort` order);
    * characters covered by any gram occurring twice or more are summed
    * once each; the double arithmetic is that of the column form these
    * statistics were first defined by.
    */
  case class NgramRepetitionExpr(child: Expression, n: Int)
      extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("top_ngram_char_frac",
        DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("dup_ngram_char_frac",
        DoubleType, nullable = false)))
    override def prettyName: String = "ngram_repetition"

    // NON-null-propagating (r20 ADVICE): the composed column algebra this
    // replaced fell through its when/otherwise branches to struct(0.0, 0.0)
    // for a null token array, so a null-text document scores zero and
    // PASSES a <=-threshold gopher filter instead of being silently dropped
    override def nullable: Boolean = false
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val v = child.eval(input)
      if (v == null)
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](0.0, 0.0))
      else nullSafeEval(v)
    }

    /** Binary order of the space-joined grams starting at tokens `a`, `b`. */
    private def compareGrams(t: TextTokens, a: Int, b: Int): Int = {
      var j = 0
      while (j < n) {
        val sa = t.start(a + j)
        val sb = t.start(b + j)
        val la = t.end(a + j) - sa
        val lb = t.end(b + j) - sb
        val common = math.min(la, lb)
        var p = 0
        while (p < common) {
          val d = (t.bytes(sa + p) & 0xFF) - (t.bytes(sb + p) & 0xFF)
          if (d != 0) return d
          p += 1
        }
        if (la != lb) {
          // the shorter token is followed by the joining space, or by the
          // end of the gram after its last token
          val last = j == n - 1
          return if (la < lb) { if (last) -1 else ' ' - (t.bytes(sb + common) & 0xFF) }
                 else { if (last) 1 else (t.bytes(sa + common) & 0xFF) - ' ' }
        }
        j += 1
      }
      0
    }

    override protected def nullSafeEval(input: Any): Any = {
      val t = TextTokens(input.asInstanceOf[UTF8String])
      val m = t.n
      val chars = new Array[Int](m)
      val th = new Array[Long](m)
      var total = 0L
      var i = 0
      while (i < m) {
        chars(i) = t.chars(i)
        total += chars(i)
        th(i) = XXH64.hashUnsafeBytes(t.bytes, Platform.BYTE_ARRAY_OFFSET + t.start(i),
          t.end(i) - t.start(i), Seed)
        i += 1
      }
      val g = if (m >= n) m - (n - 1) else 0
      // group equal grams; group ids in first-seen order
      var slots = 2
      while (slots < 2 * g) slots <<= 1
      val table = Array.fill(slots)(-1)
      val groupOf = new Array[Int](g)
      val first = new Array[Int](g)
      val count = new Array[Int](g)
      var groups = 0
      var s = 0
      while (s < g) {
        var h = 0L
        var j = 0
        while (j < n) { h = (h + th(s + j)) * 0x9E3779B97F4A7C15L; j += 1 }
        var slot = (h >>> 33).toInt & (slots - 1)
        var same = false
        while (table(slot) >= 0 && !same) {
          val f = first(table(slot))
          j = 0
          while (j < n && t.sameToken(f + j, s + j)) j += 1
          same = j == n
          if (!same) slot = (slot + 1) & (slots - 1)
        }
        if (!same) { table(slot) = groups; first(groups) = s; groups += 1 }
        groupOf(s) = table(slot)
        count(table(slot)) += 1
        s += 1
      }
      var best = -1
      var gi = 0
      while (gi < groups) {
        if (best < 0 || count(gi) > count(best) ||
            (count(gi) == count(best) && compareGrams(t, first(gi), first(best)) < 0))
          best = gi
        gi += 1
      }
      // a token position is covered when a repeated gram starts in
      // [p - n + 1, p]
      var cov = 0L
      var lastRepeat = -n
      var p = 0
      while (p < m) {
        if (p < g && count(groupOf(p)) >= 2) lastRepeat = p
        if (lastRepeat >= p - n + 1) cov += chars(p)
        p += 1
      }
      val top =
        if (total > 0 && best >= 0) {
          var bestChars = 0L
          var j = 0
          while (j < n) { bestChars += chars(first(best) + j); j += 1 }
          math.min(1.0, (count(best).toLong * bestChars).toDouble / total.toDouble)
        } else 0.0
      val dup = if (total > 0) cov.toDouble / total.toDouble else 0.0
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](top, dup))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def ngramRepetition(text: Column, n: Int): Column =
    ExpressionUtils.column(NgramRepetitionExpr(ExpressionUtils.expression(text), n))

  /** Pair-emission predicate for [[PairExpandExpr]] — which (i, j) pairs of
    * a posting list survive the in-list expansion.
    */
  sealed trait PairPredicate extends Serializable
  /** Every positional pair (plain bucket expansion). */
  case object AllPairs extends PairPredicate
  /** Size-ratio prune on packed (id << szBits | size) entries:
    * `min(szA, szB) >= max(szA, szB) * t` — pairs that cannot reach
    * Jaccard `t` are never emitted (same double arithmetic as the
    * composed `least(...).cast(double) >= greatest(...) * t`).
    */
  case class SizeRatio(threshold: Double, szBits: Int) extends PairPredicate
  /** Delta-index predicate on (id << (szBits+1) | isNew << szBits | size)
    * entries: at least one side new, plus the size-ratio prune.
    */
  case class DeltaSizeRatio(threshold: Double, szBits: Int) extends PairPredicate

  /** Positional in-list pair expansion (i < j) over a packed-long posting
    * list in ONE primitive pass: the composed
    * `flatten(transform(docs, (a,i) => transform(filter(slice(...)...))))`
    * chain runs interpreted (higher-order functions don't participate in
    * whole-stage codegen) and dominated the inverted-index dedup family
    * (measured ~0.5 s of each ~1.2 s sf0.1 gate). Emits
    * `struct(<aName> = least(a,b), <bName> = greatest(a,b))` exactly like
    * the composed form, so downstream unpack/count logic is unchanged.
    */
  // `maxInputLen` (when set) is the caller's posting-list cap, re-asserted
  // here: the expansion materializes all n(n-1)/2 surviving pairs of one
  // list in a single eval, so an unpruned bucket that slipped past the
  // upstream `size(...) <= cap` filter would be an O(n²) allocation inside
  // one expression call — fail fast with the list length instead.
  case class PairExpandExpr(child: Expression, aName: String, bName: String,
                            pred: PairPredicate,
                            maxInputLen: Option[Int] = None)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(aName, LongType, nullable = false),
        org.apache.spark.sql.types.StructField(bName, LongType, nullable = false))),
      containsNull = false)
    override def prettyName: String = "pair_expand"

    override protected def nullSafeEval(input: Any): Any = {
      val docs = input.asInstanceOf[ArrayData].toLongArray()
      val n = docs.length
      maxInputLen.foreach(cap => require(n <= cap,
        s"pair_expand: posting list of $n entries exceeds the declared cap " +
          s"$cap — the upstream df-cap filter must run before expansion"))
      val out = new scala.collection.mutable.ArrayBuffer[Any]()
      var i = 0
      while (i < n) {
        val a = docs(i)
        var j = i + 1
        while (j < n) {
          val b = docs(j)
          val ok = pred match {
            case AllPairs => true
            case SizeRatio(t, szBits) =>
              val mask = (1L << szBits) - 1
              val sa = a & mask
              val sb = b & mask
              math.min(sa, sb).toDouble >= math.max(sa, sb).toDouble * t
            case DeltaSizeRatio(t, szBits) =>
              val mask = (1L << szBits) - 1
              val newA = (a >>> szBits) & 1L
              val newB = (b >>> szBits) & 1L
              val sa = a & mask
              val sb = b & mask
              (newA + newB >= 1L) &&
                math.min(sa, sb).toDouble >= math.max(sa, sb).toDouble * t
          }
          if (ok)
            out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](math.min(a, b), math.max(a, b)))
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** In-bucket SimHash pair expansion over `array<struct<id: long,
    * sig: long>>`: emits `(idA, idB, hamming)` with `idA = least(id, id)`,
    * `idB = greatest`, `hamming = bit_count(sigA ^ sigB)` — the composed
    * nested-transform form, in one primitive pass.
    */
  case class SimhashPairExpandExpr(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("idA", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("idB", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("hamming", IntegerType, nullable = false))),
      containsNull = false)
    override def prettyName: String = "simhash_pair_expand"

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val ids = new Array[Long](n)
      val sigs = new Array[Long](n)
      var i = 0
      while (i < n) {
        val r = arr.getStruct(i, 2)
        ids(i) = r.getLong(0)
        sigs(i) = r.getLong(1)
        i += 1
      }
      val out = new Array[Any](n * (n - 1) / 2)
      var k = 0
      i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](math.min(ids(i), ids(j)), math.max(ids(i), ids(j)),
              java.lang.Long.bitCount(sigs(i) ^ sigs(j))))
          k += 1
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** [[SimhashPairExpandExpr]] over a FLAT interleaved `[id0, sig0, id1,
    * sig1, ...]` long array (the [[CollectLongPairsExpr]] buffer layout):
    * same emitted `(idA, idB, hamming)` rows, without the per-element
    * struct access on the way in.
    */
  case class SimhashPairExpandFlatExpr(child: Expression)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("idA", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("idB", LongType, nullable = false),
        org.apache.spark.sql.types.StructField("hamming", IntegerType, nullable = false))),
      containsNull = false)
    override def prettyName: String = "simhash_pair_expand_flat"

    override protected def nullSafeEval(input: Any): Any = {
      val flat = input.asInstanceOf[ArrayData].toLongArray()
      val n = flat.length / 2
      val out = new Array[Any](n * (n - 1) / 2)
      var k = 0
      var i = 0
      while (i < n) {
        val idI = flat(2 * i)
        val sigI = flat(2 * i + 1)
        var j = i + 1
        while (j < n) {
          val idJ = flat(2 * j)
          out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](math.min(idI, idJ), math.max(idI, idJ),
              java.lang.Long.bitCount(sigI ^ flat(2 * j + 1))))
          k += 1
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def simhashPairExpandFlat(flatArray: Column): Column =
    ExpressionUtils.column(
      SimhashPairExpandFlatExpr(ExpressionUtils.expression(flatArray)))

  /** LSH band buckets of a long signature in one pass: band `b`'s bucket is
    * `xxhash64(concat_ws(",", <band components as strings>, b))` — byte-
    * identical to the composed `xxhash64(concat_ws(",", transform(slice(sig,
    * b*r+1, r), cast string), cast(b as string)))` (same decimal rendering,
    * same separator, same seed-42 hash), without the per-band interpreted
    * lambda + string-expression tree.
    */
  case class BandBucketsExpr(child: Expression, bands: Int, rowsPerBand: Int)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] = Seq(
      org.apache.spark.sql.types.TypeCollection(
        ArrayType(LongType), ArrayType(IntegerType)))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "band_buckets"

    @transient private lazy val elemIsInt: Boolean = child.dataType match {
      case ArrayType(IntegerType, _) => true
      case _                         => false
    }

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      // int and long elements render the same decimal digits via cast to
      // string, so one long-path covers both signature element types
      val sig = if (elemIsInt) arr.toIntArray().map(_.toLong)
                else arr.toLongArray()
      require(sig.length >= bands * rowsPerBand,
        s"band_buckets: signature of ${sig.length} elements is shorter than " +
          s"bands*rowsPerBand = ${bands * rowsPerBand}")
      val out = new Array[Long](bands)
      val sb = new java.lang.StringBuilder(rowsPerBand * 21 + 4)
      var b = 0
      while (b < bands) {
        sb.setLength(0)
        var j = 0
        while (j < rowsPerBand) {
          if (j > 0) sb.append(',')
          sb.append(sig(b * rowsPerBand + j))
          j += 1
        }
        sb.append(',').append(b)
        out(b) = XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString),
          StringType, Seed)
        b += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-start window hashes of a token array in ONE pass: token `i` is
    * hashed once (`xxhash64(token)`), window `s` is the xxhash64 fold of
    * its `k` token hashes — byte-identical to the composed
    * `transform(sequence(1, n-k+1), i => xxhash64(slice(th, i, k)))` over
    * `th = transform(toks, xxhash64)` (same seed-42 chain, same null
    * skipping), without the interpreted per-window lambda + slice
    * allocation. Empty result when fewer than `k` tokens.
    */
  case class SpanWindowHashesExpr(child: Expression, k: Int)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

    override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "span_window_hashes"

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n < k) return new GenericArrayData(Array.empty[Long])
      val th = new Array[Long](n)
      var i = 0
      while (i < n) {
        val s = arr.getUTF8String(i)
        th(i) = if (s == null) Seed else XxHash64Function.hash(s, StringType, Seed)
        i += 1
      }
      val out = new Array[Long](n - k + 1)
      var start = 0
      while (start <= n - k) {
        var h = Seed
        var j = 0
        while (j < k) { h = XXH64.hashLong(th(start + j), h); j += 1 }
        out(start) = h
        start += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Rebuild a document's uncovered text in ONE pass:
    * `concat_ws(" ", <tokens whose 0-based position is NOT in cov>)` —
    * exactly the composed
    * `when(size(toks) = 0, "") otherwise concat_ws(" ",
    * transform(array_except(sequence(0, size-1), coalesce(cov, [])),
    * p -> element_at(toks, p+1)))`, without allocating the position
    * sequence, the except result, and the transformed array per document
    * (the interpreted chain's allocation rate made the span rebuild
    * anti-scale 32-vs-8 cores at 500k documents). Null/empty token array
    * → "" (concat_ws over a null array yields "" in the composed form);
    * null cov (no covered window joined) → full text; null tokens are
    * skipped exactly like concat_ws does.
    */
  case class KeptTextExpr(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {

    override def dataType: DataType = StringType
    override def nullable: Boolean = false
    override def prettyName: String = "kept_text"

    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val toksV = left.eval(input)
      if (toksV == null)
        return org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
      val toks = toksV.asInstanceOf[ArrayData]
      val n = toks.numElements()
      if (n == 0)
        return org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
      val covered = new Array[Boolean](n)
      val covV = right.eval(input)
      if (covV != null) {
        val cov = covV.asInstanceOf[ArrayData]
        var i = 0
        val m = cov.numElements()
        while (i < m) {
          val c = cov.getInt(i)
          if (c >= 0 && c < n) covered(c) = true
          i += 1
        }
      }
      val kept =
        new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var i = 0
      var k = 0
      while (i < n) {
        if (!covered(i)) {
          val s = toks.getUTF8String(i)
          if (s != null) { kept(k) = s; k += 1 }
        }
        i += 1
      }
      org.apache.spark.unsafe.types.UTF8String.concatWs(
        org.apache.spark.unsafe.types.UTF8String.fromString(" "),
        java.util.Arrays.copyOf(kept, k): _*)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def keptText(tokenArray: Column, coveredPositions: Column): Column =
    ExpressionUtils.column(
      KeptTextExpr(ExpressionUtils.expression(tokenArray),
        ExpressionUtils.expression(coveredPositions)))

  def spanWindowHashes(tokenArray: Column, k: Int): Column =
    ExpressionUtils.column(
      SpanWindowHashesExpr(ExpressionUtils.expression(tokenArray), k))

  def pairExpand(packedArray: Column, aName: String, bName: String,
                 pred: PairPredicate,
                 maxInputLen: Option[Int] = None): Column =
    ExpressionUtils.column(
      PairExpandExpr(ExpressionUtils.expression(packedArray), aName, bName,
        pred, maxInputLen))

  def simhashPairExpand(docsArray: Column): Column =
    ExpressionUtils.column(
      SimhashPairExpandExpr(ExpressionUtils.expression(docsArray)))

  def bandBuckets(sigArray: Column, bands: Int, rowsPerBand: Int): Column =
    ExpressionUtils.column(
      BandBucketsExpr(ExpressionUtils.expression(sigArray), bands, rowsPerBand))

  def langIdNative(text: Column, markers: Seq[(String, Seq[String])]): Column =
    ExpressionUtils.column(LangIdExpr(ExpressionUtils.expression(text), markers))

  def tokens(text: Column): Column =
    ExpressionUtils.column(TokensExpr(ExpressionUtils.expression(text)))

  def minhashSignature(text: Column, k: Int, numHashes: Int): Column =
    ExpressionUtils.column(MinHashExpr(ExpressionUtils.expression(text), k, numHashes))

  def sortedSetJaccard(a: Column, b: Column): Column =
    ExpressionUtils.column(
      SortedSetJaccardExpr(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def meanWordLength(text: Column): Column =
    ExpressionUtils.column(MeanWordLengthExpr(ExpressionUtils.expression(text)))

  def alphaWordRatio(text: Column): Column =
    ExpressionUtils.column(AlphaWordRatioExpr(ExpressionUtils.expression(text)))

  def symbolWordRatio(text: Column): Column =
    ExpressionUtils.column(SymbolWordRatioExpr(ExpressionUtils.expression(text)))

  def linearScore(text: Column, numBuckets: Int): Column =
    ExpressionUtils.column(LinearScoreExpr(ExpressionUtils.expression(text), numBuckets))

  def shingleHashSet(tokenArray: Column, k: Int): Column =
    ExpressionUtils.column(
      ShingleHashSetExpr(ExpressionUtils.expression(tokenArray), k))

  def simhash64(tokenArray: Column): Column =
    ExpressionUtils.column(SimHash64Expr(ExpressionUtils.expression(tokenArray)))

  def simhashPoly62(tokenArray: Column): Column =
    ExpressionUtils.column(SimHashPoly62Expr(ExpressionUtils.expression(tokenArray)))

  def simhashPoly31(tokenArray: Column): Column =
    ExpressionUtils.column(SimHashPoly31Expr(ExpressionUtils.expression(tokenArray)))

  def chainFingerprintPoly(tokenArray: Column): Column =
    ExpressionUtils.column(
      ChainFingerprintPolyExpr(ExpressionUtils.expression(tokenArray)))

  def fingerprint64(tokenArray: Column): Column =
    ExpressionUtils.column(Fingerprint64Expr(ExpressionUtils.expression(tokenArray)))
}
