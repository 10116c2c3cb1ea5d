package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-duplicate detection.
  *
  * Every operator is a declarative DataFrame transform — candidate
  * generation is always a *bucketed equi-join* (LSH band, SimHash block, or
  * shared shingle), never an all-pairs product, so the plans scale to
  * billion-document corpora: Catalyst plans the bucket joins as shuffled
  * hash joins on the bucket key, and the verify stage only touches candidate
  * pairs. The one driver-side collection is [[connectedComponents]]' union-
  * find for an edge set proven small (at most
  * `spark.graft.cc.localEdgeThreshold` rows); larger graphs stay
  * distributed.
  */
object Dedup {

  /** Quality-aware corpus keep: one representative per near-dup cluster,
    * chosen by HIGHEST score (ties: smallest id) instead of the min-id
    * convention — real curation keeps the best member of a duplicate
    * group (longest, highest quality score, canonical source), not the
    * one with the luckiest id. `clusters` is [[connectedComponents]]
    * output (`node`, `component`); documents in no cluster are their own
    * representative and always survive. Returns the kept rows of `docs`.
    *
    * `score` is evaluated once per cluster member and for no other
    * document: the cluster frame joins the documents first, and the score
    * runs on the joined rows.
    *
    * Scale shape: the cluster frame is duplicate-sized (orders of
    * magnitude below the corpus) and joins the corpus by id, so the score
    * is paid for duplicates only; the ranking window partitions by
    * component — near-dup groups are small by construction, so no single
    * task sees more than a group. The loser set joins left-anti WITHOUT a
    * forced broadcast: losers scale with total duplicate VOLUME, not
    * cluster count — on a 100 TB corpus with a 30% duplicate rate that is
    * billions of ids, far past any driver broadcast budget — so the
    * planner must stay free to pick broadcast (AQE does, whenever the
    * measured set fits `autoBroadcastJoinThreshold`; verified the plan
    * still broadcasts at gate scale) or fall back to a shuffled anti
    * join. The fallback shuffles BOTH sides on the id — corpus included —
    * so at that scale the right layout is id-bucketed docs co-located
    * with the loser shuffle, not a bigger driver.
    */
  def keptByQuality(docs: DataFrame, idCol: String, score: Column,
                    clusters: DataFrame): DataFrame = {
    val members = docs
      .join(clusters.select(col("node").as("g_node"), col("component").as("g_comp")),
        col(idCol) === col("g_node"))
      .select(col("g_node"), col("g_comp"), score.as("g_q"))
    val w = Window.partitionBy("g_comp")
      .orderBy(col("g_q").desc, col("g_node"))
    val losers = members.withColumn("g_r", row_number().over(w))
      .filter(col("g_r") > 1)
      .select(col("g_node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact dedup: keep the row with the smallest `idCol` per distinct value
    * of `keys` (content columns or hashes of them). One shuffle on the key.
    */
  def exactDedup(df: DataFrame, idCol: String, keys: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(col(idCol))
    df.withColumn("g_rn", row_number().over(w))
      .filter(col("g_rn") === 1)
      .drop("g_rn")
  }

  /** Exact content dedup on the md5 of a text column. */
  def exactTextDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    exactDedup(df, idCol, Seq(md5(col(textCol))))

  /** Candidate pairs from MinHash LSH banding: documents whose signatures
    * agree on *all* rows of at least one band. Signature length =
    * `bands * rowsPerBand`. Output: (idA, idB, sim) with idA < idB and
    * `sim` = the signature-estimated Jaccard, deduplicated across bands.
    *
    * Plan shape at scale: project (signature) → explode (bands, ×B rows) →
    * shuffle on (band index, band hash) via the self-equi-join → pair dedup.
    * A skewed bucket (e.g. an empty-document hash) would explode the join;
    * callers should pre-filter degenerate docs.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, bands: Int = 16,
                        rowsPerBand: Int = 4): DataFrame = {
    val numHashes = bands * rowsPerBand
    // band b = components [b*rowsPerBand, (b+1)*rowsPerBand); hash the slice.
    // let1 keeps the signature bound once per row even after CollapseProject
    // inlines it into the per-band lambda. Pairs expand in-bucket carrying
    // both signatures, so the estimated similarity needs no re-join and the
    // signature subtree is evaluated once (see bucketPairs).
    val banded = df.select(
        col(idCol).as("g_id"),
        minhashSignature(col(textCol), shingleK, numHashes).as("g_sig"))
      .select(col("g_id"), col("g_sig"),
        explode(org.apache.spark.sql.graft.NativeTextExprs
          .bandBuckets(col("g_sig"), bands, rowsPerBand)).as("g_bucket"))
    banded.groupBy("g_bucket")
      .agg(collect_list(struct(col("g_id"), col("g_sig"))).as("g_docs"))
      .filter(size(col("g_docs")) >= 2)
      .select(explode(let1(col("g_docs")) { docs =>
        flatten(transform(docs, (a, i) =>
          transform(slice(docs, i + 2, greatest(size(docs) - i - 1, lit(0))),
            b => struct(
              least(a("g_id"), b("g_id")).as("idA"),
              greatest(a("g_id"), b("g_id")).as("idB"),
              minhashJaccard(a("g_sig"), b("g_sig")).as("sim")))))
      }).as("g_p"))
      .select("g_p.*")
      .groupBy("idA", "idB").agg(first("sim").as("sim"))
  }

  /** Distinct unordered id pairs per bucket, expanded positionally (i < j)
    * inside each bucket's collected id list. One shuffle; the upstream
    * bucket-producing subtree is evaluated ONCE (a self-equi-join would
    * recompute it per join side), and a bucket of d ids costs d(d-1)/2
    * rows instead of a d x d join. Buckets at corpus scale must be bounded
    * (LSH bucket sizes are, given a sane banding scheme; degenerate inputs
    * — e.g. millions of empty documents hashing identically — should be
    * filtered upstream).
    */
  private def bucketPairs(bucketed: DataFrame, keyCols: Seq[String],
                          idCol: String): DataFrame = {
    require(bucketed.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"bucketPairs expects a bigint id, got ${bucketed.schema(idCol).dataType}")
    bucketed.groupBy(keyCols.map(col): _*)
      // primitive-buffer collect (no per-element boxing / row-walk
      // serialization in the reduce stage); order-insensitive downstream
      // (pairExpand canonicalizes with min/max, then distinct)
      .agg(org.apache.spark.sql.graft.PrimitiveCollects
        .collectLongList(col(idCol)).as("g_ids"))
      .filter(size(col("g_ids")) >= 2)
      .select(explode(org.apache.spark.sql.graft.NativeTextExprs.pairExpand(
        col("g_ids"), "idA", "idB",
        org.apache.spark.sql.graft.NativeTextExprs.AllPairs)).as("g_p"))
      .select("g_p.*").distinct()
  }

  /** MinHash-LSH near-duplicate pairs, verified with the *exact* shingle
    * Jaccard (computed distributively from the candidate pairs only).
    * Output: (idA, idB, jaccard) with jaccard >= threshold.
    */
  def minhashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, shingleK: Int = 3, bands: Int = 16,
                      rowsPerBand: Int = 4): DataFrame = {
    val numHashes = bands * rowsPerBand
    // candidate generation needs only (band, bucket, id): signatures are
    // computed once and dropped before the shuffle
    val banded = df.select(
        col(idCol).as("g_id"),
        minhashSignature(col(textCol), shingleK, numHashes).as("g_sig"))
      .select(col("g_id"),
        explode(org.apache.spark.sql.graft.NativeTextExprs
          .bandBuckets(col("g_sig"), bands, rowsPerBand)).as("g_bucket"))
    // MEASURED AND REJECTED (r21): a candidate-sliced verify — checkpoint
    // the tiny pair set, semi-join the corpus to candidate-involved ids,
    // shingle only that slice once — removes the double whole-corpus
    // tokenize+shingle below (the sh subtree is duplicated under each pair
    // join; no exchange to reuse) and is the right 100 TB shape (guide
    // §8), but benched 0.71 → 0.86 s at sf0.1 (embedding twin 0.48 →
    // 0.70): the two extra eager-checkpoint actions plus the semi-join
    // pass cost more wall here than two slice-shingle passes save. At
    // corpus scale the trade flips (two full-corpus passes vs a
    // duplicate-bounded slice); re-introduce it behind a conf if that
    // deployment materializes. MEASURED, NO GAIN: joining the pairs to the
    // text and shingling only the joined rows (no extra action or pass)
    // ran the corpus_curation minhash stage in 1.92 s against 1.78 s for
    // this form (medians of 4 alternating pairs, 20k documents, freshness
    // 4.70 vs 4.58 s) — no gain at this scale, so this form stays.
    val cands = bucketPairs(banded, Seq("g_bucket"), "g_id")
    val sh = df.select(col(idCol).as("g_id"),
      org.apache.spark.sql.graft.NativeTextExprs
        .shingleHashSet(tokens(col(textCol)), shingleK).as("g_sh"))
    cands
      .join(sh.select(col("g_id").as("idA"), col("g_sh").as("g_shA")), "idA")
      .join(sh.select(col("g_id").as("idB"), col("g_sh").as("g_shB")), "idB")
      .select(col("idA"), col("idB"),
        org.apache.spark.sql.graft.NativeTextExprs
          .sortedSetJaccard(col("g_shA"), col("g_shB")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // release-note-style warning for the r17 default flip of maxShingleDf
  // from None (uncapped) to Some(1000) — a silent result-set change for
  // callers relying on the old default; pairs related ONLY through
  // over-cap boilerplate shingles now drop (r18 ADVICE: keep the
  // measured default, surface it loudly). Once per JVM PER ENTRY POINT,
  // so a pipeline touching only the delta path post-warmup still sees
  // its notice. (An EXPLICIT Some(1000) is indistinguishable from the
  // default at runtime — the message states the semantics, which hold
  // either way.)
  private val warnedShingleCap =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def warnShingleCapDefault(entryPoint: String): Unit =
    if (warnedShingleCap.add(entryPoint))
      org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup").warn(
        s"$entryPoint runs with maxShingleDf = Some(1000) — the default " +
          "since r17 (previously uncapped): document pairs related only " +
          "through shingles shared by >1000 documents are dropped, and " +
          "a near-duplicate whose overlap is mostly such boilerplate " +
          "can fall below the threshold. Pass maxShingleDf = None to " +
          "restore the uncapped build (measured 5.4x wall and a " +
          "1.80/decade candidate-volume exponent on a shared-vocabulary " +
          "corpus), or strip boilerplate first (Dedup.spanDedup). " +
          "See MIGRATION.md.")

  /** Exact n-gram Jaccard near-duplicate pairs WITHOUT LSH: an inverted-
    * index equi-join on the shingle yields one row per *shared* shingle, so
    * `|A ∩ B|` is just the pair's row count and
    * `J = common / (|A| + |B| - common)` — no second join back to the
    * shingle arrays, no array intersection. Complete (no false negatives
    * above threshold > 0).
    *
    * Scale properties: one shuffle on the shingle (the join), one on the id
    * pair (the count). A size-ratio prune inside the join drops pairs that
    * cannot reach the threshold (`J <= min/max`); very frequent shingles
    * are the skew risk at corpus scale, and the ratio prune does NOT bound
    * them — it drops pair EMISSION, not the O(df²) per-posting expansion.
    *
    * `maxShingleDf` therefore defaults ON (1000), matching
    * [[ngramContainmentPairs]]: the shared-vocabulary A/B
    * (SCALE_PROBE_r16.json `shared_vocab_cap` — 5% of documents carrying a
    * 42-token boilerplate across three 10×-apart sizes) measured this
    * path's uncapped arm at 5.4× wall and a 1.80/decade candidate-volume
    * exponent vs 0.76 capped, size-ratio prune ON in both arms. Recall
    * under the cap, precisely: pairs related ONLY through over-cap
    * shingles always drop, and because dropped postings shrink the
    * common count while SET SIZES stay full, the score degrades to the
    * Jaccard of the under-cap overlap alone — a true near-dup whose
    * shared shingles are MOSTLY over-cap boilerplate can fall below the
    * threshold too. On boilerplate-dominated corpora, strip the
    * boilerplate first ([[spanDedup]]) or pass `None` explicitly when
    * that recall matters more than the measured blowup. At the driver
    * gate scales the corpus-wide max df
    * sits far below 1000 (sf0.1's natural max df is 25), so the default
    * is inert there and gate results are bit-identical to the uncapped
    * build.
    */
  def ngramJaccardDupPairs(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double, shingleK: Int = 3,
                           maxShingleDf: Option[Int] = Some(1000)): DataFrame = {
    if (maxShingleDf == Some(1000))
      warnShingleCapDefault("ngramJaccardDupPairs")
    coOccurringPairs(df, idCol, textCol, shingleK, maxShingleDf,
        sizeRatioPrune = Some(threshold))
      .select(col("idA"), col("idB"),
        (col("g_common").cast("double") /
          (col("g_szA") + col("g_szB") - col("g_common")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Shared candidate machinery of the n-gram family: inverted index on
    * hashed shingles → in-list positional pair expansion → per-pair common
    * count. Returns one row per co-occurring document pair:
    * `(idA, idB, g_szA, g_szB, g_common)` with `idA < idB`.
    *
    * Shingles travel as xxhash64 longs, not strings: an 8-byte fixed-width
    * shuffle key instead of a ~30-byte string, produced by the single-pass
    * native expression with zero string materialization. Identical output
    * barring a 64-bit hash collision between two distinct shingles of one
    * document pair (probability ~ (shingles/doc)^2 / 2^64 — negligible
    * even at billions of documents).
    *
    * One shuffle builds the posting list per shingle; pairs are expanded
    * positionally (i < j) INSIDE each list, so the tokenize+shingle subtree
    * is evaluated once (a self-join would recompute it per side) and a
    * shingle shared by d docs costs d(d-1)/2 rows, not a d x d join.
    * Skew guard for corpus scale (`maxShingleDf`): drop ultra-common
    * shingles whose posting lists would explode (one shingle shared by 1M
    * docs is 10^12 candidate pairs — and an unbounded in-memory list).
    * Surviving pairs keep their full set sizes while only their
    * common-count shrinks, so a capped score is the similarity of the
    * UNDER-CAP overlap alone: pairs related only through boilerplate
    * always drop, and a pair whose overlap is boilerplate-DOMINATED can
    * fall below a threshold its true score clears (the documented trade
    * on [[ngramJaccardDupPairs]]).
    *
    * `sizeRatioPrune = Some(t)` drops pairs that cannot reach Jaccard `t`
    * (`J <= min/max`) INSIDE the expansion, on the packed sizes, so they
    * are never struct-packed and never leave Generate. Containment search
    * passes None — a tiny document fully quoted inside a huge one is
    * exactly a pair the ratio prune would drop.
    */
  private def coOccurringPairs(df: DataFrame, idCol: String, textCol: String,
                               shingleK: Int, maxShingleDf: Option[Int],
                               sizeRatioPrune: Option[Double]): DataFrame = {
    val sh = df.select(col(idCol).as("g_id"),
      org.apache.spark.sql.graft.NativeTextExprs
        .shingleHashSet(tokens(col(textCol)), shingleK).as("g_sh"))
    val inv = sh.select(col("g_id"), size(col("g_sh")).as("g_sz"),
      explode(col("g_sh")).as("g_shingle"))
    // posting lists carry (id, size) packed into one long (id in the high
    // bits, size below 2^20) so collect_list aggregates a primitive array,
    // not boxed structs; ids stay ordered under the packing because size
    // occupies the low bits uniformly
    val SzBits = 20
    val packed = inv.select(col("g_shingle"),
      (col("g_id") * (1L << SzBits) + col("g_sz")).as("g_doc"))
    // primitive-buffer posting collect: the packed (id, size) longs land in
    // a growable long[] instead of a boxed ArrayBuffer — the reduce stage's
    // dominant cost at ~230k single-long groups per gate query
    val postings = packed.groupBy("g_shingle")
      .agg(org.apache.spark.sql.graft.PrimitiveCollects
        .collectLongList(col("g_doc")).as("g_docs"))
    val capped = maxShingleDf match {
      case None      => postings
      case Some(cap) => postings.filter(size(col("g_docs")) <= cap)
    }
    def unpackId(x: Column) = call_function("shiftright", x, lit(SzBits))
    def unpackSz(x: Column) = x.bitwiseAND((1L << SzBits) - 1)
    // in-list expansion + ratio prune as ONE native single-pass expression
    // (the composed nested transform/filter lambdas run interpreted and
    // dominated this family's wall time — same emitted pairs, same
    // double-compare prune arithmetic)
    import org.apache.spark.sql.graft.NativeTextExprs
    val pred = sizeRatioPrune match {
      case Some(t) => NativeTextExprs.SizeRatio(t, SzBits)
      case None    => NativeTextExprs.AllPairs
    }
    val pairs = capped
      .filter(size(col("g_docs")) >= 2)
      .select(explode(
        NativeTextExprs.pairExpand(col("g_docs"), "pA", "pB", pred,
          maxInputLen = maxShingleDf)).as("g_p"))
      .select(
        unpackId(col("g_p.pA")).as("idA"), unpackId(col("g_p.pB")).as("idB"),
        unpackSz(col("g_p.pA")).as("g_szA"), unpackSz(col("g_p.pB")).as("g_szB"))
    pairs
      .groupBy("idA", "idB", "g_szA", "g_szB")
      .agg(count(lit(1)).as("g_common"))
  }

  /** Asymmetric near-duplication — quote/containment detection: pairs where
    * the SMALLER document's shingle set is mostly inside the larger one
    * (`containment = |A∩B| / min(|A|,|B|) >= threshold`). Symmetric Jaccard
    * misses these by construction (a 50-word quote inside a 5,000-word page
    * has J ≈ 0.01), yet they are what decontamination and excerpt-dedup
    * actually hunt. Output: `(quoteId, containerId, containment)` with the
    * size-smaller document first (ties: smaller id).
    *
    * Same single-expansion inverted-index shape as
    * [[ngramJaccardDupPairs]], but with NO size-ratio prune — containment
    * pairs are exactly the ones that prune drops — so `maxShingleDf`
    * (default 1000) is the load-bearing skew guard at corpus scale.
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            threshold: Double, shingleK: Int = 3,
                            maxShingleDf: Option[Int] = Some(1000)): DataFrame =
    coOccurringPairs(df, idCol, textCol, shingleK, maxShingleDf,
        sizeRatioPrune = None)
      .select(col("idA"), col("idB"), col("g_szA"), col("g_szB"),
        (col("g_common").cast("double") /
          least(col("g_szA"), col("g_szB")).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
      .select(
        when(col("g_szA") <= col("g_szB"), col("idA")).otherwise(col("idB"))
          .as("quoteId"),
        when(col("g_szA") <= col("g_szB"), col("idB")).otherwise(col("idA"))
          .as("containerId"),
        col("containment"))

  /** Materialized near-duplicate pair index: build [[ngramJaccardDupPairs]]
    * once, persist it as parquet behind a `_SUCCESS` marker, and serve
    * every downstream consumer from the artifact — the same
    * build-once/serve-many methodology as the cube layer (and as the
    * reference's externally-built Druid index,
    * `docs/benchmark/BenchMarkDetails.org:676-699`). A 100 TB curation run
    * works this way in practice: candidate generation is the expensive
    * pass, and the keep/drop decision, cluster audit, and reporting
    * queries all re-read its output rather than re-shingling the corpus.
    * Writes exactly once per path — same-JVM callers serialize on a lock
    * (parallel test suites share the session), and the `_SUCCESS` marker
    * makes re-entry a pure read.
    *
    * The `path` IS the artifact's identity: once built, the parameters and
    * input frame are not re-checked (exactly like a materialized cube
    * path). Callers must encode everything that distinguishes one index
    * from another — corpus, threshold, shingle size — in the path, or two
    * different requests will silently share one artifact.
    */
  def materializedNgramPairs(df: DataFrame, idCol: String, textCol: String,
                             threshold: Double, path: String): DataFrame = {
    val spark = df.sparkSession
    // build-once through the [[ArtifactStore]] seam: cross-JVM (the
    // pre-seam version serialized only same-JVM callers on a monitor)
    ArtifactStore.forPath(spark, path)
      .buildOnce(spark, path, "pair_index") { dir =>
        ngramJaccardDupPairs(df, idCol, textCol, threshold)
          .write.mode("overwrite").parquet(dir)
      }
    graft.plans.QueryHistory.registerArtifact("pair_index", path)
    readPairIndex(spark, path)
  }

  /** Read a pair index through the [[ArtifactStore]] seam. */
  private def readPairIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String): DataFrame = {
    val store = ArtifactStore.forPath(spark, path)
    ArtifactStore.readFrame(spark, store.snapshot(spark, path))
  }

  /** Near-duplicate pairs INVOLVING newly-ingested documents only — the
    * incremental counterpart of [[ngramJaccardDupPairs]] (output is its
    * subset with at least one side satisfying `isNew`). The full-corpus
    * index then refreshes as `existing ∪ delta`: ingest cost is
    * proportional to the NEW data, not to history — the same refresh
    * economics [[graft.cube.CubeRefresh]] gives the cube layer, extended
    * to the dedup index artifact.
    *
    * Shape at scale: the new docs' distinct shingle-hash set is small
    * (one day's ingest vs years of corpus) and broadcasts; the old corpus
    * side is semi-joined against it BEFORE the posting-list shuffle, so
    * the shuffle carries only shingles some new document actually has.
    * Jaccard stays exact for every emitted pair: a (new, old) pair's
    * common shingles are all shingles of the new side — none are pruned —
    * and full set sizes travel in the packing.
    *
    * `maxShingleDf` semantics: the join filters SHINGLES (to those some
    * new doc has), never documents, so a surviving shingle's posting list
    * still holds every document containing it — the cap compares against
    * corpus-wide df exactly as in the full build, and the delta is a
    * subset of a capped full build over the SAME corpus (DeltaCapSpec).
    * What a capped `existing ∪ delta` refresh canNOT equal is a capped
    * full REBUILD: df is measured as of each build, so a shingle that was
    * under the cap when `existing` was built but has since crossed it
    * keeps its old pairs in the union while a fresh rebuild would drop
    * them. That is inherent to append-only refresh with a df-dependent
    * guard; rebuild when cap-exact semantics matter.
    *
    * The default cap matches [[ngramJaccardDupPairs]]'s (1000): a refresh
    * whose full build was capped but whose delta is not would emit pairs
    * the full build deliberately dropped — the two entry points of one
    * index must share one skew-guard default.
    */
  def ngramJaccardDupPairsDelta(df: DataFrame, idCol: String, textCol: String,
                                isNew: Column, threshold: Double,
                                shingleK: Int = 3,
                                maxShingleDf: Option[Int] = Some(1000)): DataFrame = {
    if (maxShingleDf == Some(1000))
      warnShingleCapDefault("ngramJaccardDupPairsDelta")
    val sh = df.select(col(idCol).as("g_id"),
      isNew.cast("boolean").as("g_isnew"),
      org.apache.spark.sql.graft.NativeTextExprs
        .shingleHashSet(tokens(col(textCol)), shingleK).as("g_sh"))
    val newShingles = sh.filter(col("g_isnew"))
      .select(explode(col("g_sh")).as("g_shingle")).distinct()
    val inv = sh.select(col("g_id"), col("g_isnew"),
        size(col("g_sh")).as("g_sz"), explode(col("g_sh")).as("g_shingle"))
      .join(broadcast(newShingles), "g_shingle")
    // packing as in ngramJaccardDupPairs plus a newness bit between the id
    // and the size: id-major ordering (pair orientation) is preserved
    val SzBits = 20
    val packed = inv.select(col("g_shingle"),
      (col("g_id") * (1L << (SzBits + 1)) +
        col("g_isnew").cast("long") * (1L << SzBits) + col("g_sz")).as("g_doc"))
    val postings = packed.groupBy("g_shingle")
      .agg(org.apache.spark.sql.graft.PrimitiveCollects
        .collectLongList(col("g_doc")).as("g_docs"))
    val capped = maxShingleDf match {
      case None      => postings
      case Some(cap) => postings.filter(size(col("g_docs")) <= cap)
    }
    def unpackId(x: Column) = call_function("shiftright", x, lit(SzBits + 1))
    def unpackSz(x: Column) = x.bitwiseAND((1L << SzBits) - 1)
    // native single-pass expansion: at-least-one-new plus the size-ratio
    // prune, identical emitted pairs to the composed lambda chain
    val pairs = capped
      .filter(size(col("g_docs")) >= 2)
      .select(explode(org.apache.spark.sql.graft.NativeTextExprs.pairExpand(
        col("g_docs"), "pA", "pB",
        org.apache.spark.sql.graft.NativeTextExprs.DeltaSizeRatio(
          threshold, SzBits), maxInputLen = maxShingleDf)).as("g_p"))
      .select(
        unpackId(col("g_p.pA")).as("idA"), unpackId(col("g_p.pB")).as("idB"),
        unpackSz(col("g_p.pA")).as("g_szA"), unpackSz(col("g_p.pB")).as("g_szB"))
    pairs
      .groupBy("idA", "idB", "g_szA", "g_szB")
      .agg(count(lit(1)).as("g_common"))
      .select(col("idA"), col("idB"),
        (col("g_common").cast("double") /
          (col("g_szA") + col("g_szB") - col("g_common")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Bring a materialized pair index ([[materializedNgramPairs]]) up to
    * date after the corpus grew: computes the delta pairs for documents
    * satisfying `isNew` and APPENDS them to the artifact — history is
    * never re-shingled, matching [[graft.cube.CubeRefresh]]'s
    * dirty-slice-only economics. The caller owns refresh bookkeeping
    * exactly as it owns the path identity: `isNew` must select documents
    * not covered by any earlier build or refresh of this path (re-running
    * with the same `isNew` would append the same pairs twice).
    */
  def refreshNgramPairs(df: DataFrame, idCol: String, textCol: String,
                        isNew: Column, threshold: Double,
                        path: String): DataFrame = {
    val spark = df.sparkSession
    val store = ArtifactStore.forPath(spark, path)
    require(ArtifactStore.exists(spark, path),
      s"no pair index at $path — build with materializedNgramPairs first")
    store.append(spark, path, "pair_index") { dir =>
      ngramJaccardDupPairsDelta(df, idCol, textCol, isNew, threshold)
        .write.mode("append").parquet(dir)
    }
    graft.plans.QueryHistory.registerArtifact("pair_index", path)
    readPairIndex(spark, path)
  }

  /** SimHash near-duplicate pairs: 64-bit SimHash per doc, candidates share
    * at least one of the four 16-bit blocks (guaranteeing recall for
    * Hamming distance <= 3 by pigeonhole), verified by exact Hamming
    * distance <= maxHamming. Output: (idA, idB, hamming).
    */
  def simhashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame =
    simhashDupPairsOf(df, idCol, simhash(col(textCol)),
      blockBits = 16, maxHamming = maxHamming)

  /** [[simhashDupPairs]] over the SQL-portable 62-bit double-polynomial
    * SimHash ([[graft.functions.TextFunctions.simhashPoly62]]) instead of
    * the native 64-bit xxhash64 signature. Same LSH structure (4 16-bit
    * blocks; bits 62-63 are always 0); because the pigeonhole blocking is
    * recall-exact for Hamming <= 3 and the verify is exact, the result
    * EQUALS brute-force all-pairs, so a cross-engine oracle can restate it
    * as an O(n²) join without replicating the blocking. Discrimination is
    * comparable to the 64-bit signature (the naive single-31-bit variant
    * measured 700× more candidate pairs — see simhashPoly62's scaladoc).
    */
  def simhashDupPairsPoly(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3): DataFrame =
    simhashDupPairsOf(df, idCol, simhashPoly62(col(textCol)),
      blockBits = 16, maxHamming = maxHamming)

  private def simhashDupPairsOf(df: DataFrame, idCol: String, sig: Column,
                                blockBits: Int, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-block SimHash LSH guarantees recall only for hamming <= 3")
    // each bucket's (id, signature) pairs are collected and expanded
    // in-list (i < j): the signature is computed ONCE per document and the
    // verify hamming comes straight out of the expansion — no self-join,
    // no recomputation per join side
    val mask = (1L << blockBits) - 1
    val blocked = df
      .select(col(idCol).as("g_id"), sig.as("g_sim"))
      .select(col("g_id"), col("g_sim"),
        posexplode(let1(col("g_sim")) { s =>
          transform(sequence(lit(0), lit(3)),
            b => call_function("shiftright", s, b * blockBits).bitwiseAND(mask))
        }).as(Seq("g_block", "g_bits")))
    blocked.groupBy("g_block", "g_bits")
      // (id, sig) pairs interleaved in ONE primitive long buffer (the
      // struct collect boxed and row-serialized every element); >= 2 docs
      // == >= 4 flat elements
      .agg(org.apache.spark.sql.graft.PrimitiveCollects
        .collectLongPairs(col("g_id"), col("g_sim")).as("g_docs"))
      .filter(size(col("g_docs")) >= 4)
      .select(explode(org.apache.spark.sql.graft.NativeTextExprs
        .simhashPairExpandFlat(col("g_docs"))).as("g_p"))
      .select("g_p.*")
      .filter(col("hamming") <= maxHamming)
      .groupBy("idA", "idB").agg(first("hamming").as("hamming"))
  }

  /** Connected components over an undirected duplicate-pair edge list —
    * the step that turns pairwise near-dup hits into *clusters* so a
    * pipeline can keep one representative per group. Output:
    * `(node, component)` where `component` is the smallest id reachable
    * from `node` (only nodes that appear in some pair are returned;
    * singletons are their own representative by definition).
    *
    * Iterative min-label propagation: each round is one shuffled
    * join + min-aggregate (`lbl(v) <- min(lbl(v), min lbl over neighbors)`),
    * converging in O(component diameter) rounds — near-dup clusters are
    * shallow (diameter a handful), so a few rounds suffice even at corpus
    * scale. Per round the label frame is `localCheckpoint`ed to truncate
    * lineage (an unbounded iterative plan otherwise re-executes every prior
    * round), and convergence is detected by a count of changed labels —
    * one scalar to the driver per round, never the labels themselves.
    * A pathological giant component (everything transitively similar to
    * everything) degrades rounds, not correctness; `maxIters` bounds the
    * work and is asserted so truncation can never be mistaken for an
    * answer.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 25): DataFrame = {
    // both orientations in ONE pass over the (possibly expensive) pair
    // pipeline — a union of the frame with its own swap would execute the
    // upstream candidate generation twice
    val edges0 = pairs.select(explode(array(
        struct(col(aCol).as("g_src"), col(bCol).as("g_dst")),
        struct(col(bCol).as("g_src"), col(aCol).as("g_dst")))).as("g_e"))
      .select("g_e.g_src", "g_e.g_dst")
      .distinct()
      .localCheckpoint(true)
    // Right-size the iteration to the measured edge count (free: the frame
    // is already materialized). The label frames are bounded by the node
    // count, so a small pair graph — the common case even for a huge corpus,
    // since only near-dup hits become edges — iterates on a few partitions
    // where every round would otherwise be dominated by per-partition task
    // scheduling; a genuinely large graph keeps the session's parallelism.
    val spark = edges0.sparkSession
    val edgeCount = edges0.count()
    // Adaptive small-graph path (the broadcast-join of graph algorithms):
    // a provably small edge set — the usual outcome of near-dup candidate
    // generation even over a huge corpus — is solved by driver-side
    // union-find in one collect instead of paying per-round job scheduling
    // for label propagation. Same answer, bounded by the threshold; large
    // graphs keep the distributed path.
    val localThreshold =
      spark.conf.get("spark.graft.cc.localEdgeThreshold", "500000").toLong
    // Edge count alone under-bounds driver memory: 500k edges can still
    // carry ~1M distinct node objects into the union-find HashMap, so the
    // node count is bounded too. edges0 holds both orientations of every
    // edge, so each node is the source of at least one row and the row
    // count bounds the distinct nodes exactly — no extra job needed.
    val localNodeThreshold =
      spark.conf.get("spark.graft.cc.localNodeThreshold", "1000000").toLong
    val nodeType = edges0.schema("g_src").dataType
    val localOrderable = nodeType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    }
    if (localOrderable && edgeCount <= math.min(localThreshold, localNodeThreshold))
      return ccLocal(edges0, nodeType)
    val defaultP = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val p = math.min(defaultP.toLong,
      edgeCount / 500000L + 1L).toInt
    val edges =
      if (p < defaultP) edges0.repartition(p).localCheckpoint(true) else edges0
    var labels = edges.select(col("g_src").as("g_node"))
      .distinct()
      .withColumn("g_lbl", col("g_node"))
      .localCheckpoint(true)
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxIters) {
      // one shuffled join + min-aggregate per round; the previous label
      // rides along as `g_old` (max ignores the neighbor rows' NULLs), so
      // convergence detection is a scan of the checkpointed result instead
      // of a second join
      val viaNeighbor = edges
        .join(labels, edges("g_dst") === labels("g_node"))
        .select(col("g_src").as("g_node"), col("g_lbl"),
          lit(null).cast(labels.schema("g_lbl").dataType).as("g_old"))
      val next = labels.select(col("g_node"), col("g_lbl"), col("g_lbl").as("g_old"))
        .union(viaNeighbor)
        .groupBy("g_node").agg(min("g_lbl").as("g_lbl"), max("g_old").as("g_old"))
        .localCheckpoint(true)
      changed = next.filter(col("g_lbl") < col("g_old")).count()
      labels = next.select("g_node", "g_lbl")
      round += 1
    }
    assert(changed == 0L,
      s"connectedComponents did not converge in $maxIters rounds")
    labels.select(col("g_node").as("node"), col("g_lbl").as("component"))
  }

  /** Driver-side union-find for small edge sets; identical output contract
    * to the distributed path (every node labeled with the minimum node id
    * of its component).
    */
  private def ccLocal(edges: DataFrame,
                      nodeType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.Row
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long)     => x < y
      case (x: Int, y: Int)       => x < y
      case (x: String, y: String) => x < y
      case _ => throw new IllegalStateException(s"unorderable node pair ($a, $b)")
    }
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      if (!parent.containsKey(x)) { parent.put(x, x); return x }
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.collect().foreach { row =>
      val ra = find(row.get(0))
      val rb = find(row.get(1))
      if (ra != rb) parent.put(if (lt(ra, rb)) rb else ra, if (lt(ra, rb)) ra else rb)
    }
    val out = new java.util.ArrayList[Row]()
    parent.keySet().forEach(n => { out.add(Row(n, find(n))); () })
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", nodeType, nullable = true),
      org.apache.spark.sql.types.StructField("component", nodeType, nullable = true)))
    edges.sparkSession.createDataFrame(out, schema)
  }

  /** Embedding-cosine near-duplicate pairs: candidates from random-
    * hyperplane LSH over the embedding (documents agreeing on at least one
    * signature band), verified by exact cosine >= threshold.
    * Output: (idA, idB, cosine).
    *
    * The hyperplanes are deterministic pseudo-random unit-free vectors
    * derived from xxhash64(seed, dim, component) — no driver-side RNG state
    * to ship, identical across runs and executors.
    */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, nBits: Int = 32, bands: Int = 4,
                        seed: Int = 42): DataFrame = {
    val rowsPerBand = nBits / bands
    val vecs = df.select(col(idCol).as("g_id"), col(vecCol).as("g_vec"))
    val sig = vecs.withColumn("g_bits",
      Vectors.rhpSignature(col("g_vec"), nBits, seed))
    val banded = sig.select(col("g_id"),
      explode(org.apache.spark.sql.graft.NativeTextExprs
        .bandBuckets(col("g_bits"), bands, rowsPerBand)).as("g_bucket"))
    // distinct id pairs from in-bucket expansion (signatures computed once,
    // dropped before the shuffle); vectors re-attached only to survivors.
    // (A checkpoint + semi-join candidate-sliced re-attach was measured
    // and rejected at sf0.1 — see minhashDupPairs' verify note.)
    val cands = bucketPairs(banded, Seq("g_bucket"), "g_id")
    cands
      .join(vecs.select(col("g_id").as("idA"), col("g_vec").as("g_vecA")), "idA")
      .join(vecs.select(col("g_id").as("idB"), col("g_vec").as("g_vecB")), "idB")
      .select(col("idA"), col("idB"),
        Vectors.cosine(col("g_vecA"), col("g_vecB")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Benchmark decontamination: corpus documents sharing at least one word
    * `n`-gram with any benchmark document, with the count of distinct shared
    * n-grams. Training pipelines drop (or at least audit) these documents so
    * eval benchmarks aren't leaked into the training set; real deployments
    * use n in the 8-13 range (the n-gram must be long enough that chance
    * collisions vanish).
    *
    * Output: (idCol, n_hits: bigint), contaminated documents only.
    *
    * Shape at scale: both sides shingle locally (explode, no shuffle), the
    * corpus side carries 8-byte xxhash64 shingle keys instead of strings,
    * and the match is an equi-join on the hash — the benchmark side is tiny
    * by construction (thousands of documents vs billions), so AQE plans it
    * as a broadcast and the only shuffle is the final per-document count.
    * Hash collisions can only *add* a spurious hit at ~2^-64 per candidate
    * pair — the standard trade for not shuffling raw shingle text.
    */
  /** Exact duplicated-span removal (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022): delete from every
    * document the token positions covered by a length-`k` window whose
    * exact token sequence occurs at least `minCount` times corpus-wide
    * (occurrences in the SAME document count too — self-repetition is
    * boilerplate like any other). Doc-level dedup ([[exactTextDedup]],
    * [[minhashDupPairs]]) misses partially-copied documents; line-level
    * ([[graft.operators.Corpus]] line dedup) misses spans that cross line
    * boundaries — this is the substring-grain member of the family.
    *
    * Output: one row per input document —
    * (idCol, text_kept, n_tokens, n_dropped) with `text_kept` the
    * uncovered tokens in original order ('' when fully covered) and
    * `n_dropped` the number of deleted token positions. Documents shorter
    * than `k` tokens are never touched (no window fits — the Lee et al.
    * minimum-match-length semantics).
    *
    * Shape at scale (the suffix-array pass of the paper, re-expressed as
    * two hash aggregations): window keys are 8-byte xxhash64 values, never
    * strings; pass 1 counts occurrences per key (map-side partial combine
    * absorbs the Zipf head), keys reaching `minCount` survive — a set
    * proportional to the DUPLICATED text, far smaller than the corpus;
    * pass 2 equi-joins windows against that set (AQE broadcasts it when
    * small) and folds matches back per document. Everything after the two
    * key shuffles is per-document array work, bounded by document length.
    * Collisions can only over-delete at ~2^-64 per window pair — the
    * standard trade for not shuffling raw text.
    */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
                k: Int = 8, minCount: Int = 2): DataFrame = {
    require(minCount >= 2, s"minCount below 2 would delete everything, got $minCount")
    val toks = spanToks(docs, idCol, textCol)
    // Materialize the window table once: BOTH consumers below (the count
    // pass and the join-back) otherwise re-run the tokenize + per-window
    // hash explode over the whole corpus — the operator's dominant CPU.
    // The checkpoint stores only (id, pos, hash) triples (~24 B/window,
    // never text), trading bounded local storage for a full corpus-scan
    // of recompute; measured 1.7 -> 1.3 s at sf0.1. DISK_ONLY, not the
    // default deserialized MEMORY_AND_DISK: one window row deserialized
    // on-heap costs ~4x its serialized bytes, and at 500k documents
    // (~150M windows) the retained blocks thrashed storage memory across
    // repeated runs (78 s outlier reps in CORE_SCALING_r21's span probe);
    // serialized scratch-disk blocks have zero heap footprint and the
    // re-read cost is one deserialize of a narrow row.
    val kgrams = spanKgrams(toks, k).asInstanceOf[
        org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
      .asInstanceOf[DataFrame]
    val dup = kgrams.groupBy("g_h")
      .agg(count(lit(1)).as("g_cnt"))
      .filter(col("g_cnt") >= minCount)
      .select("g_h")
    spanApply(toks, kgrams, dup, k, idCol)
  }

  private def spanToks(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    docs.select(col(idCol).as("g_id"),
      graft.functions.TextFunctions.tokens(col(textCol)).as("g_toks"))

  /** (doc, 0-based window start, window hash); slice() is 1-based. The
    * window key is xxhash64 over the ARRAY of per-token xxhash64 values:
    * each token's characters are hashed once per scan and every window
    * re-hashes just k longs, vs. ~k× string building + full re-hashing
    * for a concat-the-window key (measured 1.6 → 1.1 s at sf0.1).
    */
  private def spanKgrams(toks: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"window must be at least 1 token, got $k")
    // single-pass native window hashing (each token hashed once, each
    // window a fold of k longs — byte-identical to the composed
    // transform/slice form, without its interpreted per-window lambda)
    toks
      .filter(size(col("g_toks")) >= k)
      .select(col("g_id"),
        posexplode(org.apache.spark.sql.graft.NativeTextExprs
          .spanWindowHashes(col("g_toks"), k)).as(Seq("g_pos", "g_h")))
  }

  /** Delete the positions covered by `dup`-keyed windows and rebuild. */
  private def spanApply(toks: DataFrame, kgrams: DataFrame, dup: DataFrame,
                        k: Int, idCol: String): DataFrame = {
    // covered positions straight from window STARTS: one row per duplicated
    // window through the shuffle (not k), and the sorted distinct coverage
    // union comes out of a primitive aggregate instead of
    // array_sort(collect_set(explode(sequence(...)))) — identical output
    val covered = kgrams.join(dup, "g_h")
      .groupBy("g_id")
      .agg(org.apache.spark.sql.graft.PrimitiveCollects
        .coveredPositions(col("g_pos"), k).as("g_cov"))
    // rebuild in one native pass (kept_text): the composed
    // sequence/array_except/transform chain ran interpreted and its
    // allocation rate made this stage anti-scale 32-vs-8 cores at 500k
    // documents (CORE_SCALING_r21) — same emitted text by construction
    val keptText = org.apache.spark.sql.graft.NativeTextExprs
      .keptText(col("g_toks"), col("g_cov"))
    toks.join(covered, Seq("g_id"), "left")
      .select(col("g_id").as(idCol),
        keptText.as("text_kept"),
        size(col("g_toks")).cast("long").as("n_tokens"),
        coalesce(size(col("g_cov")), lit(0)).cast("long").as("n_dropped"))
  }

  /** Append one batch's window-hash COUNT PARTIALS to an on-disk store —
    * the incremental/streaming face of [[spanDedup]]'s first pass. Counts
    * are mergeable partial sums (`sum` over appended files ≡ one global
    * count), the same append-only algebra
    * [[graft.streaming.EventPipeline.rollupIngest]] uses for the cube
    * lattice; wire it per-microbatch through `writeStream.foreachBatch`.
    * Each batch writes its pre-aggregated (hash, cnt) rows — shuffle
    * bounded by the batch's distinct windows, never by history.
    */
  def spanCountsIngest(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, destDir: String): Unit = {
    val spark = docs.sparkSession
    // maintenance-serialized inside the [[ArtifactStore]] seam: an append
    // racing spanCountsCompact's staging read would land its partials
    // file in the OLD directory — renamed aside and deleted with it when
    // the compaction promotes, silently losing that batch's counts (the
    // ivfIngest bug class, r15 verdict). POSIX stamps the generation so
    // foreign readers' cached listings refresh; manifest publishes a
    // fresh immutable segment.
    ArtifactStore.forPath(spark, destDir)
      .append(spark, destDir, "span_store") { dir =>
        spanKgrams(spanToks(docs, idCol, textCol), k)
          .groupBy("g_h").agg(count(lit(1)).as("g_cnt"))
          .write.mode("append").parquet(dir)
      }
    graft.plans.QueryHistory.registerArtifact("span_store", destDir)
  }

  /** Read a span-count store through the [[ArtifactStore]] seam — one
    * snapshot resolution covering both storage protocols.
    */
  private def readSpanStore(spark: org.apache.spark.sql.SparkSession,
                            countsDir: String): DataFrame = {
    val store = ArtifactStore.forPath(spark, countsDir)
    ArtifactStore.readFrame(spark, store.snapshot(spark, countsDir))
  }

  /** Compact the span-count store: merge all appended partials into one
    * (hash, total) row each and swap the directory — serve cost stays
    * proportional to distinct windows instead of growing with every
    * ingested batch (the pipeline-layer twin of
    * [[graft.streaming.EventPipeline.compactPartials]]). A full
    * replacement because the store is unpartitioned (no partition column
    * to dynamic-overwrite); the crash-safety and serialization contract
    * is [[ArtifactStore.replace]] (POSIX: [[Artifacts.writeThenSwap]];
    * manifest: publish-by-conditional-PUT), shared with
    * [[Similarity.ivfCompact]]. Returns the distinct windows retained.
    */
  def spanCountsCompact(spark: org.apache.spark.sql.SparkSession,
                        destDir: String): Long = {
    val store = ArtifactStore.forPath(spark, destDir)
    store.maintenanceLocked(spark, destDir) {
      store.replace(spark, destDir, foldCaptured = false) { (snap, tmp) =>
        val base = ArtifactStore.readFrame(spark, snap)
        base.groupBy("g_h").agg(sum(col("g_cnt")).as("g_cnt"))
          .write.mode("overwrite").parquet(tmp)
        base.schema
      }
      readSpanStore(spark, destDir).count()
    }
  }

  /** [[spanDedup]] against an ingested count store instead of an inline
    * count pass: windows duplicated ACROSS THE WHOLE INGEST HISTORY are
    * deleted, so a late re-ingest of boilerplate already seen months ago
    * still scrubs it — the store is the corpus memory a pure per-batch
    * pass cannot have. Serving merges the partials (sum per hash) and
    * proceeds exactly like the batch operator.
    */
  def spanDedupServe(docs: DataFrame, idCol: String, textCol: String,
                     countsDir: String, k: Int = 8,
                     minCount: Int = 2): DataFrame = {
    require(minCount >= 2, s"minCount below 2 would delete everything, got $minCount")
    graft.plans.QueryHistory.registerArtifact("span_store", countsDir)
    val toks = spanToks(docs, idCol, textCol)
    val kgrams = spanKgrams(toks, k)
    val dup = readSpanStore(docs.sparkSession, countsDir)
      .groupBy("g_h").agg(sum(col("g_cnt")).as("g_cnt"))
      .filter(col("g_cnt") >= minCount)
      .select("g_h")
    spanApply(toks, kgrams, dup, k, idCol)
  }

  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchTextCol: String,
                    n: Int = 8): DataFrame = {
    val docNg = contaminatedNgrams(docs, idCol, textCol, bench, benchTextCol, n)
    // hashes are DISTINCT per document by construction (shingle hash SET),
    // so the distinct-hit count is a plain count — count_distinct would
    // re-deduplicate through a second exchange + two extra aggregates
    docNg
      .groupBy("g_id")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("g_id").as(idCol), col("n_hits"))
  }

  /** Streaming twin of [[decontaminate]] — the same hashed-shingle
    * stream-static equi-join (the benchmark side is always a static,
    * broadcastable set), with the distinct-hit count restated as
    * `dropDuplicates` + count because streaming aggregation forbids
    * `count_distinct`. In batch the two forms are identical; on a stream
    * the dedup becomes keyed state — bound it with a watermark upstream
    * when the ingest is continuous (`dropDuplicatesWithinWatermark`
    * semantics); at test/demo scale the unbounded state is fine.
    */
  def decontaminateStream(docs: DataFrame, idCol: String, textCol: String,
                          bench: DataFrame, benchTextCol: String,
                          n: Int = 8): DataFrame =
    contaminatedNgrams(docs, idCol, textCol, bench, benchTextCol, n)
      .dropDuplicates("g_id", "g_h")
      .groupBy("g_id")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("g_id").as(idCol), col("n_hits"))

  /** Shared core: one row per (document, DISTINCT benchmark-shingle-hash
    * hit) — the doc side explodes its shingle hash SET, so a document
    * never emits one hash twice. Shingle keys are the single-pass native
    * token-hash folds ([[graft.functions.TextFunctions]]' shingleHashSet,
    * the same keys the dedup inverted index shuffles) instead of
    * `xxhash64(<rendered n-gram string>)`: zero string materialization per
    * window, identical hits barring a 64-bit collision between two
    * distinct n-grams of one (document, benchmark) pair — the same
    * negligible trade the whole hashed-shingle family documents.
    */
  private def contaminatedNgrams(docs: DataFrame, idCol: String,
                                 textCol: String, bench: DataFrame,
                                 benchTextCol: String, n: Int): DataFrame = {
    val docNg = docs.select(col(idCol).as("g_id"),
      explode(org.apache.spark.sql.graft.NativeTextExprs
        .shingleHashSet(tokens(col(textCol)), n)).as("g_h"))
    val benchNg = bench
      .select(explode(org.apache.spark.sql.graft.NativeTextExprs
        .shingleHashSet(tokens(col(benchTextCol)), n)).as("g_h"))
      .distinct()
    docNg.join(benchNg, "g_h")
  }
}
