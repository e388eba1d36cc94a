package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical

/** Plan audit: flags any declared query whose physical plan contains a
  * cartesian product / nested-loop join, or whose optimized logical plan
  * contains a Window with an EMPTY partition spec (a single-task global
  * window — every row funnels through one core, the quietest scale-killer
  * of all because it is invisible to correctness tests).
  * [[PlanSweepSpec]] asserts the findings equal the allowlists so a plan
  * regression fails `sbt test`. */
object PlanSweep {

  /** Queries DOCUMENTED to plan a BroadcastNestedLoopJoin:
    *  - dedup_ngram_jaccard / dedup_embedding_cosine: bounded O(n²) exact
    *    verification tiers (the declared scale paths are dedup_minhash_lsh
    *    and dedup_embedding_lsh);
    *  - ann_cosine_topk / ann_lsh_recall / ann_ivf_recall: exact
    *    brute-force baseline (and the recall queries joining against it) —
    *    broadcast side is the 8-row query set, the big side streams with
    *    no shuffle;
    *  - text_tfidf / text_lm_score / vocab_pmi / dq_drift / dq_drift_js /
    *    agg_histogram / window_rolling_distinct / sample_temperature /
    *    search_bm25 / window_allocation:
    *    ONE-row broadcasts (corpus totals, the max-gap scalar, min/max
    *    stats, the horizon day, the Σ⌊√n⌋ quota normalizer, BM25's
    *    (N, total_len) pair, apportionment's total + leftover scalars,
    *    Benford's digit-count total) cross-joined onto the expression —
    *    the scalar-subquery plan shape, effectively free at any scale. */
  val Allowlist: Set[String] =
    Set("dedup_ngram_jaccard", "dedup_embedding_cosine", "ann_cosine_topk",
      "ann_lsh_recall", "ann_ivf_recall", "text_tfidf", "text_lm_score",
      "vocab_pmi", "dq_drift", "dq_drift_js", "agg_histogram",
      "window_rolling_distinct", "window_rolling_median", "window_ewma",
      "sample_temperature", "search_bm25", "window_allocation",
      // ndcg eval wraps search_bm25's scorer, inheriting its one-row
      // corpus-totals broadcast cross join
      "eval_ndcg",
      "customer_rfm", "dq_benford", "sample_balanced",
      "session_concurrency",
      // PSI: the min/max stats row and the (n_a, n_b) totals row, both
      // one-row broadcasts onto the bin table (scalar-subquery shape)
      "dq_psi",
      // one-row scalar broadcasts: the grand total (chi-square), the
      // user-universe count (basket rules), the value-count total (ECDF)
      "dq_chisq", "basket_rules", "window_percentile_rank",
      // the two-level IVF coarse bundle: ONE broadcast row carrying the
      // ≈√nCells coarse centroids, cross-joined onto the vector table —
      // the model-as-data replacement for the old O(n) plan literal
      "knn_graph_ivf",
      // PQ-ADC: the one-row codebook bundle (constant m·k·(dim/m) doubles)
      // cross-joined onto the code scan, plus the 8-row query-LUT set
      // broadcast against it (the ann_cosine_topk shape, but scanning
      // 8-int CODES instead of 64-double vectors), and the recall query
      // joining the exact baseline
      "ann_pq_topk", "ann_pq_recall",
      // IVF-PQ composition: the same one-row bundle broadcasts (coarse
      // IVF bundle + PQ codebook) on both the index and query sides
      "ann_ivfpq_topk", "ann_ivfpq_recall",
      // KS: the 5-row type list and the one-row grand total, both
      // broadcast onto the value grid (scalar-subquery shape)
      "dq_ks",
      // calibration census: the ONE-row global-max-cents normalizer
      // broadcast onto the event scan (scalar-subquery shape)
      "eval_ece",
      // hard-negative mining: the ann_cosine_topk brute-force tier (8-row
      // anchor broadcast against the corpus scan) with a rank-band filter
      "sample_hard_negatives",
      // KMV merge: the ALL row joins two ONE-row frames (the k-th-smallest
      // of the survivor union × the exact global distinct count) — the
      // literal-equal key folds to true, leaving a 1×1 BNLJ; scalar shape
      "sketch_kmv",
      // exact heavy hitters: the ONE-row corpus total broadcast onto the
      // (candidate-only, already tiny) recount for the n·200 > N test
      "vocab_heavy_hitters",
      // seasonal-naive backtest: the ONE-row max-day broadcast selecting
      // the 7-day test horizon (scalar-subquery shape)
      "forecast_seasonal_naive",
      // Neyman allocation: the ONE-row weight total and the ONE-row
      // leftover broadcast onto the strata-sized share table
      "sample_neyman",
      // maintained BM25 index: the scorer is search_bm25's (already
      // allowlisted) — the one-row (n_docs, total_len) totals broadcast
      "stream_bm25",
      // GLM training: the one-row teacher-threshold (median) broadcast
      // onto the feature frame
      "train_logreg",
      // isotonic calibration: the same one-row threshold broadcast
      "calibrate_isotonic",
      // TPC-H Q15/Q22: the one-row max-revenue / positive-balance-average
      // scalar broadcasts (max-as-filter and above-average gates)
      "tpch_q15", "tpch_q22",
      // Mann-Whitney / Kaplan-Meier: the one-row (N, tie-term) and N
      // totals broadcast onto the value/risk tables
      "dq_mannwhitney", "survival_km",
      // Brown-Forsythe / Kruskal-Wallis: the pivoted one-row (per-type
      // sums + totals) cross-group statistics broadcast onto the 5
      // per-type rows (kruskal additionally folds the one-row (N, tie)
      // totals into the pivot — two stacked 1-row scalar joins)
      "dq_levene", "dq_kruskal", "stream_kruskal",
      // target encoding / Lorenz: the one-row global (N, S) prior /
      // grand-total broadcast onto the category table or decile rows
      "feature_target_encode", "stream_feature_encode", "agg_lorenz",
      // modularity: the one-row edge-count total broadcast per lang row
      "graph_modularity",
      // hybrid RRF + RBO eval: search_bm25's one-row (n_docs, total_len)
      // totals broadcast — both base rankers share the scorer frame
      // (rankerTop10), and eval_rbo compares the same two rankings
      "search_hybrid_rrf", "eval_rbo",
      // quarantine routing census: the ONE-row valid-count scalar
      // cross-joined onto the one-row quarantine aggregate (1×1)
      "sink_quarantine")

  /** Static bound for the scalar-subquery BNLJ shape: a build side whose
    * LOGICAL maxRows is provably ≤ this (grouping-free aggregates → 1,
    * explicit limits) passes without running anything. */
  val ScalarBuildCap: Long = 16L

  /** Runtime bound for the documented filter-bounded tiers (the 8-row
    * `id < 8` query sets, the two O(n²) ground-truth tiers over the
    * fixed-500-row documents/embeddings tables): their bound is a filter,
    * invisible to static maxRows, so the sweep COUNTS the build side and
    * fails anything corpus-shaped (lineitem is ~6k rows at the sweep's
    * sf0.001 — well past this cap). */
  val BoundedBuildRowCap: Long = 600L

  /** Round-6 hardening (VERDICT r5 #2): the allowlist above is no longer
    * name-TRUST. For every allowlisted query this walks the physical
    * plan's nested-loop nodes and proves each one's bounded side is
    * actually bounded — statically (maxRows ≤ [[ScalarBuildCap]]) or by
    * runtime count (≤ [[BoundedBuildRowCap]]). An edit that turns a
    * one-row scalar broadcast into a real corpus-sized cartesian now
    * fails `sbt test` even though the query name stays allowlisted. */
  def bnljShapeViolations(spark: SparkSession, sf: String): Seq[(String, String)] =
    Allowlist.toSeq.sorted.flatMap { name =>
      SparkEntry.queries.get(name).toSeq.flatMap { fn =>
        try violationsOf(fn(spark, sf), name)
        catch {
          case e: Throwable =>
            Seq(name -> s"PLAN_ERROR ${e.getMessage.take(80)}")
        }
      }
    }

  /** The per-DataFrame BNLJ shape audit behind [[bnljShapeViolations]] —
    * public so the spec can feed it a deliberately-mutated plan and
    * assert the mutation is caught. */
  def violationsOf(df: org.apache.spark.sql.DataFrame,
                   name: String): Seq[(String, String)] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    val spark = df.sparkSession
    def bounded(p: SparkPlan): Boolean = {
      // Prefer the build side's ROOT logicalLink (round-7, ADVICE r6): a
      // first-linked-descendant found below a row-multiplying node (a
      // generate/explode without its own link) would measure a SMALLER
      // sub-plan than the actual build side. A descendant's link is
      // accepted only when it provably represents the same dataflow cut —
      // identical output attribute ids — otherwise the build side counts
      // as unbounded and the sweep flags it.
      val link = p.logicalLink.orElse {
        p.collectFirst {
          case q if q.logicalLink.isDefined => q.logicalLink.get
        }.filter(lp =>
          lp.output.map(_.exprId).toSet == p.output.map(_.exprId).toSet)
      }
      link.exists { lp =>
        lp.maxRows.exists(_ <= ScalarBuildCap) || {
          org.apache.spark.sql.GraftPlanBridge.ofRows(spark, lp)
            .count() <= BoundedBuildRowCap
        }
      }
    }
    df.queryExecution.sparkPlan.collect {
      case j: BroadcastNestedLoopJoinExec =>
        val b = if (j.buildSide == BuildLeft) j.left else j.right
        if (bounded(b)) None
        else Some(name -> "UNBOUNDED_BNLJ_BUILD")
      case c: CartesianProductExec =>
        // a cartesian is fine iff at least ONE side is bounded (the
        // scalar-subquery shape can plan as CartesianProduct pre-AQE)
        if (bounded(c.left) || bounded(c.right)) None
        else Some(name -> "UNBOUNDED_CARTESIAN")
    }.flatten
  }

  /** Queries allowed to plan a global (empty-partition-spec) window: NONE.
    * quality_deciles — the one query that used to — now runs its exact
    * ntile through the two-pass distributed scan
    * ([[graft.ops.PrefixSum]]). */
  val GlobalWindowAllowlist: Set[String] = Set.empty

  /** Queries allowed to carry a plan literal larger than
    * [[MaxLiteralChars]]. A literal that grows with the data (the old IVF
    * centroid list — O(n) driver memory, re-serialized into every task) is
    * a scale wall the correctness gate can't see; models sized by the
    * corpus must ship as broadcast TABLES instead. The one allowance is a
    * CONSTANT-size model: vocab_cms_topk's count-min sketch is
    * O(1/ε · log 1/δ) bytes (≈112 KB at ε=δ=0.001) regardless of corpus
    * size — that is the sketch's entire point. */
  val OversizedLiteralAllowlist: Set[String] = Set("vocab_cms_topk")
  val MaxLiteralChars: Int = 64 * 1024

  /** name → offending operator names (or PLAN_ERROR) for every declared
    * query whose plan contains a scale-killer operator. Both audits run in
    * one pass so each query's plan is built once. */
  def sweep(spark: SparkSession, sf: String): Seq[(String, String)] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val qe = fn(spark, sf).queryExecution
        val plan = qe.executedPlan.toString
        val bnlj = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
          .filter(plan.contains)
        val gw = qe.optimizedPlan.collect {
          case w: logical.Window if w.partitionSpec.isEmpty => "GlobalWindow"
        }.distinct
        val bigLit = qe.optimizedPlan.collect { case p =>
          p.expressions.flatMap(_.collect {
            case l: org.apache.spark.sql.catalyst.expressions.Literal
                if l.toString.length > MaxLiteralChars => "OversizedLiteral"
          })
        }.flatten.distinct
        val bad = bnlj ++ gw ++ bigLit
        if (bad.nonEmpty) Some(name -> bad.mkString(",")) else None
      } catch {
        case e: Throwable =>
          Some(name -> s"PLAN_ERROR ${e.getMessage.take(80)}")
      }
    }
}
