package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.NativeTextExprs
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.functions.TextFunctions.let1
import graft.operators.Quality

/** Property differential for the native text kernels: each must return
  * exactly what the composed definition it replaced returns, on seeded
  * random documents built from the inputs tokenizers get wrong — every
  * `\s` separator, NBSP and `\x1C` (not separators), `…`, dot runs of 1–6,
  * '#', 2-, 3- and 4-byte characters, malformed UTF-8 — plus empty,
  * whitespace-only and null documents. The references below are the
  * replaced column forms kept verbatim; for kernels that replaced native
  * expressions (MinHash over shingle strings, the shingle-hash set, n-gram
  * repetition over a token array) they are those expressions' defining
  * compositions of built-ins, or the old code itself.
  */
class TextKernelsSpec extends AnyFunSuite {
  import TestSpark._

  // ---- the replaced definitions ----

  private def refTokens(text: Column): Column = array_remove(split(text, "\\s+"), "")

  private def refShingles(text: Column, k: Int): Column = let1(refTokens(text)) { t =>
    val n = size(t)
    when(n === 0, array().cast("array<string>"))
      .otherwise(when(n <= k, array(concat_ws(" ", t)))
        .otherwise(transform(
          sequence(lit(1), n - lit(k - 1)),
          i => concat_ws(" ", slice(t, i, lit(k))))))
  }

  /** Component `j` = min over shingles of `xxhash64(shingle, j)`. */
  private def refMinhash(text: Column, k: Int, numHashes: Int): Column =
    let1(refShingles(text, k)) { sh =>
      when(sh.isNull, lit(null).cast("array<bigint>")).otherwise(array((0 until numHashes).map(j =>
        coalesce(array_min(transform(sh, s => xxhash64(s, lit(j)))), lit(Long.MaxValue))): _*))
    }

  /** Distinct window hashes `xxhash64(slice(token hashes, i, k))`, sorted. */
  private def refShingleSet(tokens: Column, k: Int): Column =
    let1(transform(tokens, t => xxhash64(t))) { th =>
      val n = size(th)
      val w = least(n, lit(k))
      when(n === 0, array().cast("array<bigint>")).otherwise(array_sort(array_distinct(
        transform(sequence(lit(1), n - w + 1), i => xxhash64(slice(th, i, w))))))
    }

  private def refJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  private def refMeanWordLength(text: Column): Column = let1(refTokens(text)) { t =>
    when(size(t) === 0, lit(0.0))
      .otherwise(aggregate(t, lit(0L), (a, w) => a + length(w)).cast("double")
        / size(t).cast("double"))
  }

  private def refAlphaWordRatio(text: Column): Column = let1(refTokens(text)) { t =>
    when(size(t) === 0, lit(0.0))
      .otherwise(size(filter(t, w => w.rlike("[A-Za-z]"))).cast("double")
        / size(t).cast("double"))
  }

  private def refSymbolWordRatio(text: Column): Column = let1(refTokens(text)) { t =>
    val hashes = size(split(text, "#", -1)) - 1
    val asciiEll = size(split(text, "\\.{3,}", -1)) - 1
    val uniEll = size(split(text, "…", -1)) - 1
    when(size(t) === 0, lit(0.0))
      .otherwise((hashes + asciiEll + uniEll).cast("double") / size(t).cast("double"))
  }

  private def refLinearScore(text: Column, numBuckets: Int): Column = {
    val M = 2147483647L
    val A = 2654435761L % M
    val th = transform(refTokens(text), t =>
      aggregate(split(t, ""), lit(0L), (h, c) => (h * 31L + ascii(c)) % M))
    let1(th) { hs =>
      val n = size(hs)
      val buckets = transform(sequence(lit(1), n - 1), i =>
        (element_at(hs, i) * 131L + element_at(hs, i + 1)) % M % numBuckets)
      def pseudoWeight(b: Column): Column = (b + 1L) * A % M
      when(n < 2, lit(0.5)).otherwise(let1(buckets) { bs =>
        val sumW = aggregate(bs, lit(0L), (a, b) => a + pseudoWeight(b))
        val margin =
          (sumW.cast("double") / size(bs).cast("double")) / lit(M.toDouble) *
            lit(2.0) - lit(1.0)
        lit(0.5) + lit(0.5) * margin / (lit(1.0) + abs(margin))
      })
    }
  }

  /** The replaced token-array n-gram statistics, verbatim in Scala. */
  private def refNgram(toks: Array[UTF8String], n: Int): (Double, Double) = {
    val m = toks.length
    var total = 0L
    toks.foreach(s => total += s.numChars())
    val g = if (m >= n) m - (n - 1) else 0
    val sep = UTF8String.fromString(" ")
    val ngs = Array.tabulate(g)(i => UTF8String.concatWs(sep, toks.slice(i, i + n): _*))
    val sorted = ngs.sorted
    var bestCnt = 0L
    var bestNg: UTF8String = null
    val dups = scala.collection.mutable.HashSet.empty[UTF8String]
    var run = 0L
    var prev: UTF8String = null
    sorted.foreach { x =>
      run = if (prev != null && x == prev) run + 1 else 1L
      if (run > bestCnt) { bestCnt = run; bestNg = x }
      if (run == 2L) dups += x
      prev = x
    }
    var cov = 0L
    for (p <- 0 until m) {
      val qs = math.max(0, p - (n - 1)) to math.min(p, g - 1)
      if (qs.exists(q => dups.contains(ngs(q)))) cov += toks(p).numChars()
    }
    val top =
      if (total > 0 && bestCnt > 0)
        math.min(1.0, (bestCnt * (bestNg.numChars() - (n - 1)).toLong).toDouble / total.toDouble)
      else 0.0
    (top, if (total > 0) cov.toDouble / total.toDouble else 0.0)
  }

  // ---- the documents ----

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")
  private val words = Seq("ab", "Zed", "x1", "the", "data", "12", "é", "naïve",
    "中文", "😀x", "a#b", "ab.", "Ωmega").map(utf8)
  private val separators = Seq(" ", "\t", "\n", "\u000B", "\f", "\r", "  ", " \t\r\n").map(utf8)
  private val joiners = (Seq(" ", "\u001C", "…", "#") ++ (1 to 6).map("." * _)).map(utf8)
  private val malformed = Seq(Seq(0xFF), Seq(0x80), Seq(0xE2, 0x82), Seq(0xC0, 0xAF),
    Seq(0xED, 0xA0, 0x80), Seq(0xF5, 0x80, 0x80, 0x80), Seq(0xF0, 0x9F))
    .map(_.map(_.toByte).toArray)

  /** (id, raw UTF-8 bytes or null): fixed edge cases, then seeded random
    * documents; one in five repeats an earlier document with one fragment
    * changed, so shingle sets overlap and grams repeat.
    */
  private lazy val docs: DataFrame = {
    val rnd = new java.util.SplittableRandom(20261019L)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def fragment(): Array[Byte] = rnd.nextInt(20) match {
      case x if x < 9  => pick(words)
      case x if x < 15 => pick(separators)
      case x if x < 19 => pick(joiners)
      case _           => pick(malformed)
    }
    val frags = scala.collection.mutable.ArrayBuffer.empty[Array[Array[Byte]]]
    for (_ <- 0 until 400) {
      frags += (if (frags.nonEmpty && rnd.nextInt(5) == 0) {
        val base = frags(rnd.nextInt(frags.size)).clone()
        if (base.nonEmpty) base(rnd.nextInt(base.length)) = fragment()
        base
      } else Array.fill(rnd.nextInt(40))(fragment()))
    }
    val fixed: Seq[Array[Byte]] = Seq(null, Array.emptyByteArray, utf8("   "),
      utf8("\t\n\u000B\f\r"), Array(0x61, 0xFF, 0x20, 0x62).map(_.toByte),
      utf8("a b a b a b c"), utf8("ab ab ab ab"), utf8("# hi ..... x …"),
      utf8("p q r s t u p q r s t u"))
    val rows = (fixed ++ frags.map(_.flatten)).zipWithIndex.map { case (b, i) =>
      Row(i.toLong, b)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.BinaryType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .select(col("id"), col("b").cast("string").as("text"))
  }

  /** Rows where `got` and `want` differ (null-safe, exact). */
  private def mismatches(df: DataFrame, got: Column, want: Column): Seq[String] =
    df.select(col("id"), hex(col("text")).as("hex"), got.as("got"), want.as("want"))
      .filter(!(col("got") <=> col("want")))
      .collect().toSeq.map(r => s"id ${r.get(0)} text ${r.get(1)}: got ${r.get(2)} want ${r.get(3)}")

  test("tokens equals array_remove(split(text, \\s+), '') byte for byte") {
    val bad = mismatches(docs, TextFunctions.tokens(col("text")), refTokens(col("text")))
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
    // malformed UTF-8 decodes to U+FFFD inside its token, as split decodes it
    val Array(r) = docs.filter(col("id") === 4L)
      .select(TextFunctions.tokens(col("text")).cast("array<binary>")).collect()
    assert(r.getSeq[Array[Byte]](0).map(_.toSeq) ==
      Seq(Seq(0x61, 0xEF, 0xBF, 0xBD).map(_.toByte), Seq(0x62.toByte)))
    assert(docs.filter(col("id") === 0L)
      .select(TextFunctions.tokens(col("text"))).head().isNullAt(0))
  }

  test("minhash signature from text equals the shingle-string MinHash") {
    for (k <- Seq(1, 3, 5)) {
      val bad = mismatches(docs, TextFunctions.minhashSignature(col("text"), k, 64),
        refMinhash(col("text"), k, 64))
      assert(bad.isEmpty, s"k=$k\n" + bad.take(5).mkString("\n"))
    }
  }

  test("shingle hash set is the sorted distinct window-hash set") {
    for (k <- Seq(1, 3, 8)) {
      val toks = TextFunctions.tokens(col("text"))
      val bad = mismatches(docs, NativeTextExprs.shingleHashSet(toks, k), refShingleSet(toks, k))
      assert(bad.isEmpty, s"k=$k\n" + bad.take(5).mkString("\n"))
    }
  }

  test("merge Jaccard equals array_intersect / array_union sizes") {
    val sets = docs.select(col("id"),
      NativeTextExprs.shingleHashSet(TextFunctions.tokens(col("text")), 3).as("s"))
    val pairs = sets.select(col("id").as("a"), col("s").as("sa"))
      .crossJoin(sets.select(col("id").as("b"), col("s").as("sb")))
      .filter(col("a") < 80 && col("b") < 80)
    val bad = pairs.select(col("a"), col("b"),
        NativeTextExprs.sortedSetJaccard(col("sa"), col("sb")).as("got"),
        refJaccard(col("sa"), col("sb")).as("want"))
      .filter(!(col("got") <=> col("want"))).collect()
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
    // the generated near-duplicates make the check cover partial overlaps
    assert(pairs.filter(NativeTextExprs.sortedSetJaccard(col("sa"), col("sb")).between(0.01, 0.99))
      .count() > 0)
  }

  test("Gopher word rules and linearScore equal their column forms") {
    val t = col("text")
    val checks = Seq(
      ("meanWordLength", Quality.meanWordLength(t), refMeanWordLength(t)),
      ("alphaWordRatio", Quality.alphaWordRatio(t), refAlphaWordRatio(t)),
      ("symbolWordRatio", Quality.symbolWordRatio(t), refSymbolWordRatio(t)),
      ("linearScore", Quality.linearScore(t), refLinearScore(t, 4096)),
      ("linearScore/7", Quality.linearScore(t, numBuckets = 7), refLinearScore(t, 7)))
    for ((name, got, want) <- checks) {
      val bad = mismatches(docs, got, want)
      assert(bad.isEmpty, s"$name\n" + bad.take(5).mkString("\n"))
    }
  }

  test("ngramRepetition equals the token-array statistics") {
    for (n <- Seq(1, 2, 3, 5)) {
      val rows = docs.select(col("id"),
          refTokens(col("text")).cast("array<binary>").as("toks"),
          Quality.ngramRepetitionCols(col("text"), n).as("r"))
        .collect()
      rows.foreach { r =>
        val toks = if (r.isNullAt(1)) Array.empty[UTF8String]
          else r.getSeq[Array[Byte]](1).map(UTF8String.fromBytes).toArray
        val got = (r.getStruct(2).getDouble(0), r.getStruct(2).getDouble(1))
        assert(got == refNgram(toks, n), s"n=$n id ${r.getLong(0)}")
      }
      assert(rows.exists(r => r.getStruct(2).getDouble(1) > 0.0), s"n=$n: no repeated gram")
    }
  }
}
