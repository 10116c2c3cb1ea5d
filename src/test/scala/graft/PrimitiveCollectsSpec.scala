package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.graft.{NativeTextExprs, PrimitiveCollects}

/** Differential specs for the primitive-buffer collect aggregates that
  * replaced `collect_list`/`collect_set` in the dedup reduce stages (r21):
  * each must emit exactly the elements the boxed form emitted (order-
  * insensitively — the call sites' downstreams canonicalize), and the
  * span-coverage aggregate must equal the exploded collect_set form.
  */
class PrimitiveCollectsSpec extends AnyFunSuite {
  import TestSpark._

  private def grouped = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    // multiple partitions so partial-merge paths execute
    val rnd = new scala.util.Random(7)
    (1 to 5000).map(i => (rnd.nextInt(40).toLong, rnd.nextLong() % 1000))
      .toDF("k", "v").repartition(8)
  }

  test("collectLongList emits exactly collect_list's elements per group") {
    val df = grouped
    val got = df.groupBy("k")
      .agg(sort_array(PrimitiveCollects.collectLongList(col("v"))).as("xs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val want = df.groupBy("k")
      .agg(sort_array(collect_list(col("v"))).as("xs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got == want)
  }

  test("collectLongPairs + flat expand == struct collect + struct expand") {
    val df = grouped.withColumn("sig", xxhash64(col("v")))
    def pairsOf(c: org.apache.spark.sql.Column) = df.groupBy("k")
      .agg(c.as("docs"))
    val got = pairsOf(PrimitiveCollects.collectLongPairs(col("v"), col("sig")))
      .filter(size(col("docs")) >= 4)
      .select(explode(NativeTextExprs.simhashPairExpandFlat(col("docs"))).as("p"))
      .select("p.*").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val want = pairsOf(collect_list(struct(col("v"), col("sig"))))
      .filter(size(col("docs")) >= 2)
      .select(explode(NativeTextExprs.simhashPairExpand(col("docs"))).as("p"))
      .select("p.*").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(got == want)
  }

  test("coveredPositions == array_sort(collect_set(explode(sequence)))") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val rnd = new scala.util.Random(11)
    val k = 8
    // overlapping, duplicate, and touching starts per group
    val df = (1 to 2000).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(60)))
      .toDF("g", "s").repartition(6)
    val got = df.groupBy("g")
      .agg(PrimitiveCollects.coveredPositions(col("s"), k).as("cov"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val want = df.select(col("g"),
        explode(sequence(col("s"), col("s") + lit(k - 1))).as("p"))
      .groupBy("g").agg(array_sort(collect_set(col("p"))).as("cov"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got == want)
  }

  test("coveredPositions with a single start covers exactly [s, s+k-1]") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val df = Seq((1L, 5)).toDF("g", "s")
    val got = df.groupBy("g")
      .agg(PrimitiveCollects.coveredPositions(col("s"), 3).as("cov"))
      .collect().map(_.getSeq[Int](1)).head
    assert(got == Seq(5, 6, 7))
  }

  test("pairExpand enforces its declared posting-list cap") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val atCap = Seq(Tuple1((1L to 5L).toArray)).toDF("xs")
    // at-cap list expands fine (5 entries, cap 5)
    val n = atCap.select(explode(NativeTextExprs.pairExpand(
        col("xs"), "a", "b", NativeTextExprs.AllPairs,
        maxInputLen = Some(5))).as("p"))
      .count()
    assert(n == 10) // 5*4/2
    // over-cap list fails fast with the clear message, not an O(n^2) alloc
    val overCap = Seq(Tuple1((1L to 6L).toArray)).toDF("xs")
    val e = intercept[Exception] {
      overCap.select(explode(NativeTextExprs.pairExpand(
          col("xs"), "a", "b", NativeTextExprs.AllPairs,
          maxInputLen = Some(5))).as("p"))
        .count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("exceeds the declared cap")))
  }

  test("ngramRepetition scores a null token array (0.0, 0.0), not null") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val df = Seq((1L, Some("a b a b")), (2L, None)).toDF("id", "text")
    val got = df.select(col("id"),
        NativeTextExprs.ngramRepetition(
          graft.functions.TextFunctions.tokens(col("text")), 2).as("r"))
      .select(col("id"), col("r.top_ngram_char_frac").as("top"),
        col("r.dup_ngram_char_frac").as("dup"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    assert(got(2L) == ((0.0, 0.0)))
    assert(got(1L)._1 > 0.0)
  }

  test("sessionSpans assigns exactly the lag+running-sum window sessions") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(23)
    val gap = 100L
    // clustered timestamps with duplicates and exact-gap boundaries
    val rows = (1 to 3000).map { _ =>
      (rnd.nextInt(20).toLong,
        rnd.nextInt(40) * 50L + rnd.nextInt(3) * gap,
        rnd.nextInt(100) / 10.0)
    }
    val df = rows.toDF("user_id", "ts_ms", "value").repartition(5)
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(t => (t._1, t._2)).toSeq
    val byUser = Window.partitionBy("user_id").orderBy("ts_ms")
    val want = canon(df
      .withColumn("g_prev", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("g_new",
        (col("g_prev").isNull || col("ts_ms") - col("g_prev") > gap).cast("int"))
      .withColumn("g_sess", sum(col("g_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "g_sess")
      .agg(min(col("ts_ms")).as("s"), max(col("ts_ms")).as("e"),
        count(lit(1)).as("n"), sum(col("value")).as("v"))
      .drop("g_sess")
      .collect())
    val got = canon(df.groupBy("user_id")
      .agg(PrimitiveCollects.sessionSpans(col("ts_ms"), col("value"), gap)
        .as("spans"))
      .select(col("user_id"), explode(col("spans")).as("x"))
      .groupBy(col("user_id"), col("x.sess"))
      .agg(min(col("x.ts_ms")).as("s"), max(col("x.ts_ms")).as("e"),
        count(lit(1)).as("n"), sum(col("x.value")).as("v"))
      .drop("sess")
      .collect())
    assert(got == want)
  }

  test("sessionSpans casts integer times and float or decimal values") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val df = Seq((1L, 0L, 1.5), (1L, 50L, 2.25), (1L, 500L, 3.0), (2L, 10L, 4.5))
      .toDF("user_id", "ts_ms", "value")
    def spans(ts: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
      df.groupBy("user_id")
        .agg(PrimitiveCollects.sessionSpans(ts, v, 100L).as("s"))
        .select(col("user_id"), explode(col("s")).as("x"))
        .select("user_id", "x.sess", "x.ts_ms", "x.value").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val want = spans(col("ts_ms"), col("value"))
    assert(want.map(_._2) == Seq(1, 1, 2, 1))
    assert(spans(col("ts_ms"), col("value").cast("float")) == want)
    assert(spans(col("ts_ms"), col("value").cast("decimal(10,2)")) == want)
    assert(spans(col("ts_ms").cast("int"), col("value")) == want)
  }

  test("keptLines == sorted collect + array_join reassembly") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val rnd = new scala.util.Random(31)
    val rows = (0 until 400).flatMap { d =>
      (0 until rnd.nextInt(6)).map(p =>
        (d.toLong, p, s"line $d $p", rnd.nextBoolean()))
    }
    val df = rows.toDF("g_id", "g_pos", "g_line", "keep").repartition(7)
    val got = df.groupBy("g_id")
      .agg(PrimitiveCollects.keptLines(col("g_pos"),
        when(col("keep"), col("g_line"))).as("k"))
      .select(col("g_id"), col("k.text_clean"), col("k.n_kept"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
    val want = df.groupBy("g_id")
      .agg(sort_array(collect_list(when(col("keep"),
        struct(col("g_pos"), col("g_line"))))).as("ls"))
      .select(col("g_id"),
        array_join(transform(col("ls"), x => x("g_line")), "\n").as("t"),
        size(col("ls")).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).sorted.toSeq
    assert(got == want)
  }

  test("keptText == sequence/array_except/transform rebuild") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val rnd = new scala.util.Random(41)
    val rows = (0 until 300).map { i =>
      val n = rnd.nextInt(12)
      val toks = (0 until n).map(j => s"t$j").toArray
      val cov: Array[Int] =
        if (i % 7 == 0) null
        else (0 until n).filter(_ => rnd.nextBoolean()).toArray
      (i.toLong, toks, cov)
    }
    val df = rows.toDF("id", "toks", "cov")
    val got = df.select(col("id"),
        NativeTextExprs.keptText(col("toks"), col("cov")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = df.select(col("id"),
        when(size(col("toks")) === 0, lit("")).otherwise(
          concat_ws(" ", transform(
            array_except(sequence(lit(0), size(col("toks")) - 1),
              coalesce(col("cov"), array().cast("array<int>"))),
            p => element_at(col("toks"), p + 1)))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want)
  }

  test("bandBuckets rejects a too-short signature with a clear message") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val df = Seq(Tuple1(Array(1L, 2L, 3L))).toDF("sig")
    val e = intercept[Exception] {
      df.select(NativeTextExprs.bandBuckets(col("sig"), 2, 2).as("b"))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("shorter than")))
  }
}
