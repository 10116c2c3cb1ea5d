package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Joins, Similarity}

/** Specs for the temporal/range join operators and the exact k-NN join. */
class JoinsSpec extends AnyFunSuite {
  import TestSpark._

  test("asofJoin picks the latest right row at-or-before each left ts") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val left = Seq(
      (1L, 100L, "l1"), (1L, 205L, "l2"), (1L, 300L, "l3"),
      (2L, 50L, "l4"), (3L, 10L, "l5"))
      .toDF("k", "t", "lv")
    val right = Seq(
      (1L, 100L, 1.0), (1L, 200L, 2.0), (1L, 301L, 3.0),
      (2L, 49L, 4.0), (9L, 1L, 9.9))
      .toDF("k", "t", "rv")
    val got = Joins.asofJoin(left, "k", "t", right, "k", "t",
        Seq("t" -> "rt", "rv" -> "rv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toSet
    assert(got == Set(
      (1L, 100L, "l1", Some(100L), Some(1.0)), // tie: equal-ts right visible
      (1L, 205L, "l2", Some(200L), Some(2.0)), // skips the later 301 row
      (1L, 300L, "l3", Some(200L), Some(2.0)),
      (2L, 50L, "l4", Some(49L), Some(4.0)),
      (3L, 10L, "l5", None, None)))            // no right row for key 3
  }

  test("rangeJoin matches the naive inequality join, overlaps included") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val points = Seq.tabulate(200)(i => (i.toLong, i * 37.0 % 1000 - 100))
      .toDF("id", "v")
    val ranges = Seq(("a", -100.0, 50.0), ("b", 0.0, 500.0),
      ("c", 450.0, 455.0), ("d", 400.0, 900.0)).toDF("name", "lo", "hi")
    val got = Joins.rangeJoin(points, "v", ranges, "lo", "hi", binWidth = 128.0)
      .select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = points.crossJoin(ranges)
      .filter(col("v") >= col("lo") && col("v") <= col("hi"))
      .select("id", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want && got.nonEmpty)
    // a point inside two overlapping ranges appears once per range
    assert(got.groupBy(_._1).exists(_._2.size > 1))
  }

  test("polyFingerprint matches a hand-rolled Karp-Rabin on edge lengths") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    val M = 2147483647L
    def tokHash(t: String): Long = t.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % M)
    def fp(text: String): Long = {
      val th = text.trim.split("\\s+").filter(_.nonEmpty).map(tokHash)
      if (th.length >= 4)
        th.sliding(4).map(w =>
          (w(0) * 131L * 131 * 131 + w(1) * 131L * 131 + w(2) * 131L + w(3)) % M).min
      else th.foldLeft(0L)((a, h) => (a * 131 + h) % M)
    }
    val texts = Seq("", "one", "a bb ccc", "a bb ccc dddd",
      "the quick brown fox jumps over the lazy dog", "  padded   spacing  x ")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = df.select(col("id"),
        graft.functions.TextFunctions.polyFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((t, i) <- texts.zipWithIndex)
      assert(got(i.toLong) == fp(t), s"text '$t'")
  }

  test("knnJoin (LSH) neighbors are a subset of exact neighbors' candidates") {
    val embs = Tables.t(spark, sf, "embeddings")
    val queries = embs.filter(col("vec_id") < 5L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val lsh = Similarity.knnJoin(embs, "vec_id", "embedding",
        queries, "qid", "qvec", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lsh.nonEmpty)
    // every reported cosine must be the true cosine (verify stage is exact):
    // check against a direct recomputation for one query
    val exact = Similarity.knnJoinExact(embs, "vec_id", "embedding",
        queries, "qid", "qvec", k = 2000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for ((q, n, c) <- lsh) assert(exact((q, n)) == c, s"pair ($q,$n)")
  }

  test("connectedComponents labels chains, triangles, and isolated pairs") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    // components: {1,2,3,4} (chain 1-2, 2-3, 3-4), {10,11,12} (triangle),
    // {20,21} (pair); edge (30,30) self-loop stays its own component
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L), (30L, 30L)).toDF("idA", "idB")
    val got = graft.operators.Dedup.connectedComponents(pairs, "idA", "idB")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L))
    // the distributed label-propagation path (threshold 0 forces it past
    // the local union-find) must produce the identical labeling
    val prev = spark.conf.getOption("spark.graft.cc.localEdgeThreshold")
    spark.conf.set("spark.graft.cc.localEdgeThreshold", "0")
    try {
      val dist = graft.operators.Dedup.connectedComponents(pairs, "idA", "idB")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == got, "distributed and local components diverged")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.cc.localEdgeThreshold", v)
      case None    => spark.conf.unset("spark.graft.cc.localEdgeThreshold")
    }
    // the NODE bound must force the distributed path on its own: the edge
    // count here is under the edge threshold, but a node threshold of 0
    // must still refuse the driver union-find (it bounds driver memory by
    // distinct nodes, not edges) and yield the identical labeling
    val prevN = spark.conf.getOption("spark.graft.cc.localNodeThreshold")
    spark.conf.set("spark.graft.cc.localNodeThreshold", "0")
    try {
      val dist = graft.operators.Dedup.connectedComponents(pairs, "idA", "idB")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == got, "node-bounded distributed path diverged")
    } finally prevN match {
      case Some(v) => spark.conf.set("spark.graft.cc.localNodeThreshold", v)
      case None    => spark.conf.unset("spark.graft.cc.localNodeThreshold")
    }
  }

  test("connectedComponents: identical components on each side of the small-graph gate") {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    import classic.implicits._
    // 8 pairs give 15 distinct oriented edge rows (the self-loop is one row)
    // over 10 nodes; the gate admits the local union-find at <= 15 rows
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L), (30L, 30L)).toDF("idA", "idB")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L)
    val keys = Seq("spark.graft.cc.localEdgeThreshold", "spark.graft.cc.localNodeThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      for ((edges, nodes) <- Seq((15, 1000000), (14, 1000000), (500000, 15), (500000, 14))) {
        spark.conf.set(keys(0), edges.toString)
        spark.conf.set(keys(1), nodes.toString)
        val got = graft.operators.Dedup.connectedComponents(pairs, "idA", "idB")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"edge threshold $edges, node threshold $nodes")
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("knnJoinExact equals per-query brute-force top-k") {
    val embs = Tables.t(spark, sf, "embeddings")
    val queries = embs.filter(col("vec_id") < 3L)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = Similarity.knnJoinExact(embs, "vec_id", "embedding",
        queries, "qid", "qvec", k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    for (q <- 0L until 3L) {
      val qv = embs.filter(col("vec_id") === q)
        .select("embedding").head().getSeq[Float](0)
      val bf = Similarity.bruteForceTopK(embs, "vec_id", "embedding", qv, 4)
        .collect().map(_.getLong(0))
      for ((id, rank) <- bf.zipWithIndex)
        assert(got((q, rank + 1)) == id, s"query $q rank ${rank + 1}")
    }
  }
}
