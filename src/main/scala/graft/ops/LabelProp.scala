package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synchronous label propagation (community detection) over an undirected
  * edge list — the modularity-free clustering step corpus curation uses to
  * find template FAMILIES inside the near-dup graph, where connected
  * components ([[Components]]) over-merge through threshold-bleed bridges:
  * a single spurious pair chains two boilerplate families into one
  * component, but LPA's majority vote keeps them apart because the bridge
  * contributes one vote against each family's many (reference scope:
  * cluster-then-canonicalize dedup, `kafka_s3_to_silver.py:28-30`'s
  * key-exact dedup generalized to near-dup families; algorithm: Raghavan
  * et al. 2007, the same semantics GraphFrames ships as `labelPropagation`).
  *
  * Semantics (deterministic by construction, mirrored exactly by the
  * DuckDB oracle's recursive CTE):
  *   - label₀(v) = v;
  *   - each round, every vertex SIMULTANEOUSLY adopts the most frequent
  *     label among its neighbors PLUS ONE SELF-VOTE for its current label
  *     (ties → smallest label). The self-vote breaks the classic
  *     bipartite oscillation — a bare pair otherwise swaps labels forever;
  *     with it, {a,b} converges to min(a,b) in one round;
  *   - a FIXED round count (no convergence probe): synchronous LPA is not
  *     guaranteed to reach a fixpoint, so "run R rounds" IS the operator's
  *     definition, the same contract as [[PageRank]]'s fixed iterations.
  *
  * Scale shape: a pair graph that fits one broadcast (at most
  * `spark.sql.autoBroadcastJoinThreshold` / 16 pairs, see [[LocalGraph]])
  * runs the same R rounds over arrays on the driver and returns a local
  * frame, planned as one partition (see [[LocalGraph]]), so
  * a window or ORDER BY over it needs no exchange. Above the threshold,
  * or with the threshold at -1, each round is one equi-join of the edge
  * list against the vertex-sized label table plus one (vertex,
  * label)-keyed count and one per-vertex argmax — Spark 4 plans the
  * row_number(1) as WindowGroupLimit, capping per-partition
  * before the exchange. State between rounds is one narrow (node, lab)
  * row per vertex of the PAIR graph (duplicates only, far smaller than
  * the corpus); `localCheckpoint` truncates the iterative lineage exactly
  * as [[Components.connectedComponents]] does. At 100 TB the rounds are R
  * more passes over the edge list — linear, keyed, no all-pairs anywhere.
  */
object LabelProp {

  /** (node, lab) after `rounds` synchronous self-voting rounds over the
    * undirected pair graph; every vertex of `pairs` appears exactly once. */
  def communities(pairs: DataFrame, aCol: String, bCol: String,
                  rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    LocalGraph.ifSmall(pairs, aCol, bCol) match {
      case Some(g) =>
        g.frame(pairs.sparkSession, "node", "lab", localLabels(g, rounds))
      case None => distributedLabels(pairs, aCol, bCol, rounds)
    }
  }

  /** The distributed rounds over the driver-side graph: every vertex votes
    * its neighbours' labels (with the pair multiplicity) plus its own
    * once, and takes the most frequent, ties to the smallest. */
  private def localLabels(g: LocalGraph, rounds: Int): Array[Long] = {
    var labels = g.ids
    for (_ <- 1 to rounds) {
      val cur = labels
      labels = Array.tabulate(g.size) { v =>
        (g.adj(v).map(cur) :+ cur(v)).groupMapReduce(identity)(_ => 1)(_ + _)
          .minBy { case (lab, c) => (-c, lab) }._1
      }
    }
    labels
  }

  private def distributedLabels(pairs: DataFrame, aCol: String, bCol: String,
                                rounds: Int): DataFrame = {
    // The adjacency is materialized hash-partitioned on the join key
    // (nbr) ONCE; each round's vote join then moves only the
    // vertex-sized label table (whose own exit partitioning — the argmax
    // window's hash on node — co-partitions with nbr after the rename),
    // planning as a zero-exchange shuffled-hash join with the label
    // table as build side. The previous form re-shuffled the EDGE list
    // by nbr every round (guide §2.4: establish the partitioning once).
    // lazy checkpoints throughout (plan truncation is immediate either
    // way): nothing in this loop needs a per-round action, so the
    // caller's one materializing job computes all R rounds, each round's
    // frame persisting as it is first computed — the eager form paid a
    // blocking driver job per round plus one for the adjacency
    val adj = pairs.select(col(aCol).as("node"), col(bCol).as("nbr"))
      .union(pairs.select(col(bCol).as("node"), col(aCol).as("nbr")))
      .repartition(col("nbr"))
      .localCheckpoint(false)
    var labels = adj.select(col("node")).distinct()
      .select(col("node"), col("node").as("lab"))
    for (_ <- 1 to rounds) {
      val votes = adj
        .join(labels.withColumnRenamed("node", "nbr").hint("shuffle_hash"),
          "nbr")
        .select(col("node"), col("lab"))
        .union(labels) // the self-vote
      labels = votes.groupBy(col("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("node"))
            .orderBy(col("c").desc, col("lab"))))
        .filter(col("rn") === 1)
        .select(col("node"), col("lab"))
        .localCheckpoint(false)
    }
    labels
  }
}
