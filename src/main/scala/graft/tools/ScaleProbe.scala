package graft.tools

import org.apache.spark.sql.SparkSession

/** Scale replicas of a testdata directory, for measuring how operators
  * scale with data beyond the generated scale factors: an
  * sf1-EQUIVALENT corpus — the documents, embeddings and events tables
  * replicated 10× with re-keyed ids and per-copy content perturbation —
  * and, one decade up, an sf10-equivalent documents table.
  *
  * Perturbation is load-bearing, not cosmetic: naive byte-replication
  * would hand every document 10 exact copies and every vector 10
  * identical twins, which quadratic-in-bucket candidate generation (LSH
  * bands, shingle inverted index) would misread as a scaling pathology
  * that fresh data at sf1 does not have. Text gets a per-copy alphabet
  * rotation (length, line structure, token counts, and within-copy
  * duplicate groups all preserved; every shingle differs across copies);
  * vectors get deterministic per-(id,copy,dim) jitter (~0.8σ of the
  * element distribution, so replicas spread across nearby LSH/IVF buckets
  * like fresh vectors); event replicas get fresh user ids (10×
  * independent cohorts, not 10×-longer per-user histories). Star tables
  * are byte-copied unreplicated. Replicas live under the storage root
  * ([[graft.Graft.targetDir]]), keyed by the source's content tag.
  * `ScaleReplicaSpec` locks these invariants.
  */
object ScaleProbe {

  private def rmRf(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  /** Re-keying stride between replica copies: copy k's ids live in
    * `[k*ReplicaOff, (k+1)*ReplicaOff)`. Shared with ScaleReplicaSpec so
    * the spec derives copies exactly the way the builder keyed them.
    */
  private[tools] val ReplicaOff = 100000000L

  /** Build (once, content-keyed against the regenerated testdata) the
    * sf1-equivalent dir: probed tables replicated 10× with re-keyed ids
    * and per-copy perturbation; star tables byte-copied. Returns the dir.
    */
  private[tools] def ensureSf1Equivalent(spark: SparkSession,
                                         srcDir: String): String = {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val tag = graft.Tables.contentTag(srcDir)
    val base = new java.io.File(srcDir).getName
    val root = new java.io.File(graft.Graft.targetDir)
    val dst = new java.io.File(root, s"scale_sf1x_${base}_$tag")
    // drop replicas of THIS source dir keyed to older testdata
    // generations, plus legacy replicas named by bare tag (the pre-r13
    // `scale_sf1x_<8hex>` shape) — never replicas of a DIFFERENT source
    // dir (a spec building the sf0.001 replica must not wipe the probe's
    // sf0.1 one, whatever the other source dir is called)
    Option(root.listFiles()).toSeq.flatten
      .filter { f =>
        val n = f.getName
        n != dst.getName &&
          (n.startsWith(s"scale_sf1x_${base}_") ||
            n.matches("scale_sf1x_[0-9a-f]{8}"))
      }
      .foreach(f => rmRf(f.getPath))
    val marker = new java.io.File(dst, "_REPLICATED_OK")
    if (marker.exists()) return dst.getPath
    rmRf(dst.getPath); dst.mkdirs()
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(srcDir, t + ".parquet"),
        java.nio.file.Paths.get(dst.getPath, t + ".parquet"))
    val Off = ReplicaOff
    def tenfold(name: String)(mutate: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$srcDir/$name.parquet")
      (0 until 10).map(k => if (k == 0) base else mutate(base, k))
        .reduce(_.union(_))
        .repartition(32)
        .write.mode("overwrite").parquet(s"${dst.getPath}/$name.parquet")
    }
    val az = "abcdefghijklmnopqrstuvwxyz"
    val AZ = az.toUpperCase
    tenfold("documents") { (df, k) =>
      df.withColumn("doc_id", col("doc_id") + lit(k * Off))
        // alphabet rotation: every Latin shingle differs across copies,
        // within-copy duplicate structure intact (see object scaladoc);
        // non-Latin text is unchanged — its cross-copy duplicate groups
        // grow to size 10, a bounded constant, still linear work
        .withColumn("text", translate(col("text"), az + AZ,
          az.drop(k) + az.take(k) + AZ.drop(k) + AZ.take(k)))
    }
    tenfold("embeddings") { (df, k) =>
      df.withColumn("vec_id", col("vec_id") + lit(k * Off))
        // deterministic jitter in [-0.1, 0.1] (~0.8σ of the element
        // distribution): replicas behave like fresh nearby vectors
        .withColumn("embedding", zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          (x, i) => x + (pmod(xxhash64(col("vec_id"), lit(k), i),
            lit(2001L)) - lit(1000L)).cast("float") * lit(1e-4f)))
    }
    tenfold("events") { (df, k) =>
      df.withColumn("event_id", col("event_id") + lit(k * Off))
        .withColumn("user_id", col("user_id") + lit(k * Off))
    }
    java.nio.file.Files.writeString(marker.toPath, s"src=$srcDir tag=$tag\n")
    dst.getPath
  }

  /** Deterministic alphabet permutation keyed by `seed` (Fisher-Yates
    * over an LCG): the decade-3 replica's per-copy text transform.
    * Rotations alone cannot key a THIRD decade — 100 copies of copies
    * under composed rotations collide (only 26 rotations exist), and a
    * collision hands the corpus exact cross-copy duplicates that
    * quadratic-in-bucket candidate generation would misread as a
    * scaling pathology fresh data does not have (the decade-2 builder's
    * argument, one decade up).
    */
  private[tools] def alphaPerm(seed: Int): String = {
    val a = ('a' to 'z').toArray
    var s = seed.toLong
    def next(n: Int): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % n).toInt + n) % n
    }
    for (i <- a.length - 1 to 1 by -1) {
      val j = next(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    new String(a)
  }

  /** Build (once, content-keyed) the sf10-EQUIVALENT corpus for the
    * decade-3 probe of the rising trio (r14 verdict item 2): ONLY the
    * documents table — the vector/events families measured flat or
    * falling through two decades — replicated 10× from the
    * sf1-equivalent (so 100× from sf0.1, 500k documents) with re-keyed
    * ids and a per-copy keyed SUBSTITUTION of the alphabet
    * ([[alphaPerm]]; copy 0 unchanged). The 100 composite transforms
    * (decade-2 rotation ∘ decade-3 permutation) are verified pairwise
    * distinct at build time, so every copy's shingles differ from every
    * other copy's — same length, line structure, token counts, and
    * within-copy duplicate groups as the base, like the decade-2
    * replica one decade down.
    */
  private[tools] def ensureSf10Equivalent(spark: SparkSession,
                                          srcDir: String,
                                          sf1xDir: String): String = {
    import org.apache.spark.sql.functions._
    val tag = graft.Tables.contentTag(srcDir)
    val base = new java.io.File(srcDir).getName
    val root = new java.io.File(graft.Graft.targetDir)
    val dst = new java.io.File(root, s"scale_sf10x_${base}_$tag")
    // drop decade-3 replicas of THIS source keyed to older testdata
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.getName != dst.getName &&
        f.getName.startsWith(s"scale_sf10x_${base}_"))
      .foreach(f => rmRf(f.getPath))
    val marker = new java.io.File(dst, "_REPLICATED_OK")
    if (marker.exists()) return dst.getPath
    rmRf(dst.getPath); dst.mkdirs()
    val az = "abcdefghijklmnopqrstuvwxyz"
    val perms = (0 until 10).map(j => if (j == 0) az else alphaPerm(j))
    val composites = for (k <- 0 until 10; j <- 0 until 10)
      yield (0 until 26).map(i => perms(j)((i + k) % 26)).mkString
    require(composites.distinct.size == composites.size,
      "composite decade-2 x decade-3 text transforms collide — two " +
        "copies would be exact duplicates and poison the exponent")
    val Off2 = 10L * ReplicaOff // clears the sf1x replica's id range
    val src = spark.read.parquet(s"$sf1xDir/documents.parquet")
    (0 until 10).map { j =>
      if (j == 0) src
      else src.withColumn("doc_id", col("doc_id") + lit(j * Off2))
        .withColumn("text", translate(col("text"),
          az + az.toUpperCase,
          perms(j) + perms(j).toUpperCase))
    }.reduce(_.union(_))
      .repartition(64)
      .write.mode("overwrite").parquet(s"${dst.getPath}/documents.parquet")
    // instrument honesty: distinct mappings guarantee distinct copies
    // only for text that USES the alphabet — text outside [a-zA-Z]
    // passes every substitution unchanged, and a corpus with many such
    // docs would grow exact cross-copy duplicate groups to size 100
    // (4950 candidate pairs each where fresh data has none), poisoning
    // the very exponent this replica exists to measure. Verify, don't
    // hope — but tolerate the BOUNDED residue the decade-2 builder
    // already tolerates (r15 ADVICE: the old exact-equality require
    // hard-failed the whole decade-3 section on a corpus with ANY
    // alphabet-free text): every distinct ALPHABETIC text must yield 10
    // distinct copies; alphabet-free texts pass unchanged (a bounded
    // size-10 duplicate group each, still linear work) and are reported.
    val srcDistinct = src.select(countDistinct(col("text"))).head().getLong(0)
    val srcAlpha = src.filter(col("text").rlike("[A-Za-z]"))
      .select(countDistinct(col("text"))).head().getLong(0)
    val dstDistinct = spark.read.parquet(s"${dst.getPath}/documents.parquet")
      .select(countDistinct(col("text"))).head().getLong(0)
    // tight bound: non-alpha texts contribute exactly their own distinct
    // count (verbatim in every copy), so padding from them cannot mask a
    // broken transform colliding ALPHABETIC copies (review pass r16 — a
    // bare 10*srcAlpha bound would let alpha collisions hide behind the
    // non-alpha residue)
    require(dstDistinct >= 10 * srcAlpha + (srcDistinct - srcAlpha),
      s"decade-3 copies collide on alphabetic text ($dstDistinct distinct " +
        s"texts < ${10 * srcAlpha + (srcDistinct - srcAlpha)} = 10x the " +
        s"source's $srcAlpha distinct alphabetic texts + its " +
        s"${srcDistinct - srcAlpha} alphabet-free ones) — the exponent " +
        "would measure replication artifacts, not scaling")
    val residue = 10 * srcDistinct - dstDistinct
    if (residue > 0)
      println(s"[scale] decade-3 replica: $residue of ${10 * srcDistinct} " +
        "expected distinct texts collapse (alphabet-free docs replicate " +
        "verbatim — bounded size-10 duplicate groups, like decade 2's " +
        "non-Latin residue)")
    java.nio.file.Files.writeString(marker.toPath,
      s"src=$sf1xDir tag=$tag\n")
    dst.getPath
  }
}
