package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Smoke over the real sf0.001 testdata: entry + every declared query
  * returns a sane frame, and the streaming twins equal their batch
  * counterparts. Also session hygiene: repeated calls leave no cache
  * behind, and a failed gold build leaves no CTAS running. */
class EndToEndSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def cachedPlans: Int = {
    val cm = spark.sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
  }

  // checkpointed blocks are weakly held: they leave the inventory once
  // their frame is collected, which a cache() entry never does
  private def persistedAfterGc(atMost: Int): Int = {
    var n = 0
    var tries = 0
    do {
      System.gc(); Thread.sleep(100)
      n = spark.sparkContext.getPersistentRDDs.size; tries += 1
    } while (n > atMost && tries < 20)
    n
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs at sf0.001") {
    val empty = SparkEntry.queries.flatMap { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (n == 0) Some(name) else None
    }
    // all current queries are designed to be non-empty at every sf
    assert(empty.isEmpty, s"unexpected empty results: $empty")
  }

  test("every query name has an oracle or is documented rows-only") {
    // Probabilistic candidate-generation ops whose exact result is not
    // ANSI-SQL-expressible; the driver records a rows-only check for them.
    // (round 6 promoted to hash-checked oracles and REMOVED from this
    // list: doc_winnow, mm_audio_features, mm_audio_vad, graph_pagerank,
    // vocab_textrank, mm_audio_fingerprint, mm_scene_cut, graph_k_core,
    // calibrate_isotonic, survival_km; round 7: tokenize_unigram,
    // sample_kcenter, mm_chunk_dedup, vocab_bpe_iterative — all four via
    // recursive-CTE replays of the exact-integer iteration/cursor)
    val rowsOnly = Set(
      // xxhash64 candidate signatures aren't SQL-reproducible; the
      // IDENTICAL banding machinery is hash-checked end-to-end by the
      // FNV-1a structural twin dedup_simhash_struct (round 7)
      "dedup_simhash", "ann_lsh_topk", "ann_lsh_recall",
      "ann_ivf_topk", "ann_ivf_recall", "agg_hll_sketch",
      // sketch internals: estimates beside exact counts, bounds spec-asserted
      "vocab_cms_topk",
      // cluster-then-compare: cell assignment is the k-means kernel, not SQL
      "dedup_semantic",
      // kNN graph over IVF cells: same kernel; recall floor spec-asserted
      "knn_graph_ivf",
      // approx_percentile cut points are engine-internal (G-K sketch);
      // agreement with the exact decile scan is spec-floored
      "quality_deciles_approx",
      // HLL sketch registers are engine-internal; ±5% floor and
      // merge-consistency (union-of-daily == direct weekly) spec'd
      "agg_hll_merge",
      // streaming twin of agg_hll_merge: sketch-internal estimates;
      // exact equality to the batch query spec'd in StreamingSpec
      "stream_hll_merge",
      // deflate length is a zlib-algorithm property no SQL engine
      // reproduces; exact driver-side Deflater recompute spec'd
      "text_compression",
      // approximate PQ-ADC / composed IVF-PQ indexes; recall floors
      // spec'd in WaveQSpec
      "ann_pq_topk", "ann_ivfpq_topk",
      // recall of an approximate structure isn't ANSI-SQL-expressible;
      // floors spec'd in WaveQSpec
      "ann_pq_recall", "ann_ivfpq_recall",
      // filesystem GC effect (no table to oracle); orphan-collection and
      // referenced-file-survival spec'd in WaveQSpec
      "sink_vacuum",
      // (embed_pca left this list in round 8: the eigensolve is now
      // exact-integer fixed-point with a recursive-CTE oracle twin)
      // iterative IRLS float fixpoint isn't ANSI SQL (promotion
      // adjudicated infeasible round 7 — the transcendental sigmoid
      // cannot be pinned cross-engine and the 6x6 solve amplifies ULP
      // noise; see SURVEY §2.12 N35); AUC floor, descending loss, and
      // the normal-equations residual are spec'd in WaveZSpec
      "train_logreg")
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == rowsOnly, s"undocumented oracle-less queries: ${noOracle -- rowsOnly}")
  }

  test("gold star schema builds with the FK chain populated") {
    val tables = ops.Funnel.buildGoldSchema(spark, sf, "t_gold")
    try {
      assert(tables.forall(spark.catalog.tableExists))
      assert(spark.table("t_gold_customers").count() > 0)
      val apps = spark.table("t_gold_applications")
      val orphans = apps.join(spark.table("t_gold_invitations"),
        Seq("invitation_id"), "left_anti").count()
      assert(orphans == 0)
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("dedup_components_cold leaves no cache entry or persisted RDD " +
    "behind across calls on the distributed path") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      Queries.dedupComponentsCold(spark, sf).collect()
      val plans = cachedPlans
      val rdds = persistedAfterGc(Int.MaxValue)
      Queries.dedupComponentsCold(spark, sf).collect()
      Queries.dedupComponentsCold(spark, sf).collect()
      assert(cachedPlans == plans)
      assert(persistedAfterGc(rdds) <= rdds)
    } finally spark.conf.set(key, prev)
  }

  test("the small-graph queries plan no exchange at the default threshold " +
    "and keep the distributed loops' exchanges at -1, with the same rows") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    Seq("graph_bfs", "dedup_components_cold", "graph_label_propagation").foreach { q =>
      val local = SparkEntry.queries(q)(spark, sf)
      val localPlan = local.queryExecution.executedPlan.toString
      assert(localPlan.contains("Coalesce 1") && localPlan.contains("LocalTableScan") &&
        !localPlan.contains("Exchange"), s"$q:\n$localPlan")
      val prev = spark.conf.get(key)
      val (distributedPlan, distributedRows) =
        try {
          spark.conf.set(key, "-1")
          val d = SparkEntry.queries(q)(spark, sf)
          (d.queryExecution.executedPlan.toString, d.collect().toSeq)
        } finally spark.conf.set(key, prev)
      assert(distributedPlan.contains("Exchange") && !distributedPlan.contains("LocalTableScan"),
        s"$q at -1:\n$distributedPlan")
      assert(local.collect().toSeq == distributedRows, s"$q rows differ")
    }
  }

  test("mm_phash_dedup leaves no cache entry or persisted RDD behind " +
    "across calls") {
    val plans = cachedPlans
    val rdds = persistedAfterGc(Int.MaxValue)
    Queries.mmPhashDedup(spark, sf).collect()
    Queries.mmPhashDedup(spark, sf).collect()
    assert(cachedPlans == plans)
    assert(persistedAfterGc(rdds) <= rdds)
  }

  test("a failing CTAS chain still awaits the concurrent customers CTAS " +
    "before its exception propagates") {
    val sideDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      ops.Funnel.alongside { Thread.sleep(300); sideDone.set(true) } {
        throw new IllegalStateException("chain failed")
      }
    }
    assert(e.getMessage == "chain failed")
    assert(sideDone.get, "the concurrent CTAS was still running")
  }

  test("typed sessionization equals the window-based plan") {
    val ev = ops.Tables.table(spark, sf, "events")
    val a = ops.Sessionize.sessionsByWindow(ev, 30)
      .orderBy("user_id", "session_idx").collect().map(_.toSeq)
    val b = ops.Sessionize.sessionsTyped(spark, ev, 30)
      .orderBy("user_id", "session_idx").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("HLL sketch estimates within 5% of exact distinct counts") {
    Queries.aggHllSketch(spark, sf).collect().foreach { r =>
      val approx = r.getAs[Long]("approx_orders").toDouble
      val exact = r.getAs[Long]("exact_orders").toDouble
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"approx=$approx exact=$exact")
    }
  }

  test("merged daily HLL sketches estimate weekly distincts within 5% " +
    "AND equal sketching the week directly (merge consistency)") {
    val out = Queries.aggHllMerge(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val approx = r.getAs[Long]("approx_users").toDouble
      val exact = r.getAs[Long]("exact_users").toDouble
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"approx=$approx exact=$exact")
    }
    // re-aggregation soundness: union-of-daily-states == one-shot weekly
    val direct = ops.Tables.table(spark, sf, "events")
      .groupBy(col("event_type"),
        expr("datediff(cast(ts as date), date'2024-01-01') div 7").as("wk"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))")
        .as("direct_users"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("approx_users") ==
        direct((r.getString(0), r.getLong(1))),
        s"merged sketch must equal direct weekly sketch for ${r.getString(0)}")
    }
  }

  test("streaming group-count equals batch group-count") {
    val stream = streaming.StreamTwins.fileSourceCounts(spark, sf).collect()
    val batch = Queries.aggGroupCount(spark, sf).collect()
    assert(stream.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
  }
}
