package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel
import scala.collection.concurrent.TrieMap

/** Connected components over an undirected edge list — the clustering step
  * between near-dup pair DETECTION and dedup APPLY. A pair list is an edge
  * list; the keep/drop decision must be made per CLUSTER (keep exactly one
  * canonical member), not per edge: dropping the b-side of every pair keeps
  * BOTH of {2,3} in the cluster {1,2,3} with edges (1,3),(2,3) — edge-local
  * logic cannot see transitive duplicates. (The reference's dedup,
  * `kafka_s3_to_silver.py:64` drop_duplicates, is key-exact and needs no
  * clustering; near-dup dedup does.)
  *
  * Algorithm: iterative min-label propagation on DataFrames. Each round is
  * one equi-join (edge dst → current label) plus one min-aggregation — two
  * hash shuffles, both on keys Catalyst plans as plain exchanges, nothing
  * driver-side except the loop control and a per-round convergence count.
  * Labels only ever decrease, so the fixpoint is exactly min(component) and
  * round count is bounded by the eccentricity of each component's minimum
  * vertex. Near-dup clusters are near-cliques (every member within a
  * threshold of a shared template), so 2-3 rounds close them; for
  * pathological chain-of-pairs graphs the bound is the graph diameter, and
  * the O(log n)-round alternating large-star/small-star construction
  * (Kiveris et al., SoCC'14) is the drop-in upgrade — same per-round
  * shuffle shape, more rounds saved than this corpus ever needs.
  *
  * Scale shape: a pair graph that fits one broadcast (at most
  * `spark.sql.autoBroadcastJoinThreshold` / 16 pairs, see [[LocalGraph]])
  * runs the same rounds over arrays on the driver — one bounded collect
  * instead of a join, an aggregate and a driver job per round — and
  * returns a local frame, planned as one partition
  * (see [[LocalGraph]]), so the window and ORDER BY callers
  * put on it run as one task with no exchange. Above the threshold, or
  * with the threshold at -1, the distributed loop runs: at 100 TB each
  * round's label table is
  * one narrow (id, comp) pair per distinct vertex — duplicates-only, far
  * smaller than the corpus — checkpointed per round to truncate lineage.
  */
object Components {

  /** (id, comp) for every vertex of `pairs`, where comp is the minimum id
    * reachable through the pair graph. Both paths run synchronous
    * min-label rounds until the label sum stops falling, and throw
    * past `maxIter` rounds. The result is a local or checkpointed frame;
    * it holds no cache entry. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame =
    LocalGraph.ifSmall(pairs, aCol, bCol) match {
      case Some(g) =>
        g.frame(pairs.sparkSession, "id", "comp", localLabels(g, maxIter))
      case None => distributedLabels(pairs, aCol, bCol, maxIter)
    }

  /** The distributed loop's rounds over the driver-side graph: each vertex
    * adopts the smallest label among itself and its neighbours, with the
    * same label-sum convergence test and round budget. */
  private def localLabels(g: LocalGraph, maxIter: Int): Array[Long] = {
    def labelSum(l: Array[Long]): BigInt = l.foldLeft(BigInt(0))(_ + _)
    var labels = g.ids
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val cur = labels
      labels = Array.tabulate(g.size)(v =>
        g.adj(v).foldLeft(cur(v))((m, u) => math.min(m, cur(u))))
      val nextSum = labelSum(labels)
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    if (!converged) throw notConverged(maxIter)
    labels
  }

  private def notConverged(maxIter: Int) = new IllegalStateException(
    s"label propagation did not converge in $maxIter rounds — the graph " +
      "has components with diameter beyond the round budget; use " +
      "connectedComponentsStar (O(log n) rounds) for chain-heavy graphs")

  private def distributedLabels(pairs: DataFrame, aCol: String, bCol: String,
                                maxIter: Int): DataFrame = {
    // Materialized hash-partitioned on the per-round join key (dst):
    // each round's label join then moves only the vertex-sized label
    // table (itself leaving each round hash-partitioned on id, which
    // co-partitions with dst after the rename) as a zero-exchange
    // shuffled-hash join — the edge list never re-shuffles after this
    // one-time exchange (guide §2.4; the previous persist() kept the
    // edges resident but re-exchanged them by dst every round).
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .repartition(col("dst"))
      .localCheckpoint(false) // the seed labelSum below materializes it
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // convergence detector: labels only ever DECREASE, so the label sum is
    // strictly monotone until the fixpoint — one cheap aggregate per round
    // instead of a join-and-count diff (exact decimal sum: no Long overflow
    // at any id magnitude)
    def labelSum(l: DataFrame): java.math.BigDecimal = {
      val d = l.agg(sum(col("comp").cast(DecimalType(38, 0)))).first().getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // each vertex adopts the smallest label among itself and its neighbors
      val viaNeighbors = edges
        .join(labels.toDF("dst", "comp").hint("shuffle_hash"), "dst")
        .select(col("src").as("id"), col("comp"))
      // localCheckpoint truncates lineage: an iterative plan that references
      // the previous round's frame multiple times otherwise grows
      // geometrically and chokes the analyzer long before the data is big
      // (at cluster scale this is a reliable checkpoint to storage).
      // LAZY (eager=false): the plan truncates immediately either way;
      // materialization rides the labelSum convergence aggregate below —
      // one job per round instead of checkpoint-then-aggregate's two
      val next = labels.union(viaNeighbors)
        .groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint(false)
      val nextSum = labelSum(next)
      labels.unpersist()
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    // (edges is localCheckpoint'd, not persist'd — its blocks release when
    // the RDD is GC'd; an unpersist() here was a no-op, ADVICE r10 #1)
    if (!converged) {
      labels.unpersist()
      throw notConverged(maxIter)
    }
    labels
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the O(log n)-round alternative to min-label
    * propagation for graphs whose components have long chains (propagation
    * needs diameter rounds; star rewriting halves path lengths every
    * round). Each round is two per-node window minima plus an edge dedup —
    * shuffle shapes identical to propagation's join+agg, just fewer rounds
    * at scale. At the fixpoint the edge set is a union of stars rooted at
    * each component's minimum vertex, so labels read off the final edges
    * directly.
    *
    * large-star(u): every neighbor v > u re-points to m = min(N(u) ∪ {u});
    * small-star(u): u and its smaller neighbors all point to its minimum
    * neighbor. Both preserve connectivity; alternation converges. */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // canonical undirected form: (u = max, v = min), no self-loops, distinct
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val m = least(min(col("v")).over(Window.partitionBy(col("u"))), col("u"))
      canon(sym.select(col("u"), col("v"), m.as("m"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val g = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val withM = g.select(col("u"), col("v"),
        min(col("v")).over(Window.partitionBy(col("u"))).as("m"))
      canon(withM.select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v"))))
    }

    // edge-set signature (count + order-independent hash sum) — one cheap
    // aggregate per round to detect the fixpoint
    def sig(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0)))).first()
      (r.getLong(0),
        Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
    }

    var edges = canon(pairs.select(col(aCol).as("u"), col(bCol).as("v")))
      .localCheckpoint(false) // sig() below materializes it
    var prevSig = sig(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // each star op references the previous edge frame 2×, so lineage
      // would QUADRUPLE per round without per-round checkpoint truncation.
      // Lazy: the sig() aggregate right below materializes it in one job
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      val nextSig = sig(next)
      edges = next
      converged = nextSig == prevSig
      prevSig = nextSig
      iter += 1
    }
    if (!converged) {
      throw new IllegalStateException(
        s"star rewriting did not converge in $maxIter rounds " +
          "(needs ~log2(longest path); raise maxIter)")
    }
    val labels = edges.select(col("u").as("id"), col("v").as("comp"))
      .union(edges.select(col("v").as("id"), col("v").as("comp")))
      .groupBy("id").agg(min("comp").as("comp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    labels.count()
    labels
  }

  /** Session-cached components, keyed by the caller's corpus key — the dup
    * clustering and its apply step share one propagation run (same weak-map
    * pattern as [[graft.text.NearDup]]'s pair cache; the label frame
    * stays in the map for the session). */
  private val caches = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TrieMap[String, DataFrame]]())

  def connectedComponentsCached(pairs: DataFrame, aCol: String, bCol: String,
                                cacheKey: String): DataFrame =
    caches.computeIfAbsent(pairs.sparkSession,
        _ => TrieMap.empty[String, DataFrame])
      .getOrElseUpdate(s"cc|$cacheKey|$aCol|$bCol",
        connectedComponents(pairs, aCol, bCol))
}
