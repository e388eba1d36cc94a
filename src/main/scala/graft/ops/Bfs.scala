package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Multi-source breadth-first search over an undirected pair graph: the
  * hop distance from the seed set — every vertex whose id ≡ 0 (mod 10) —
  * to each vertex reachable within `maxDepth` hops.
  *
  * Scale shape: a pair graph that fits one broadcast (at most
  * `spark.sql.autoBroadcastJoinThreshold` / 16 pairs, see [[LocalGraph]])
  * walks its frontiers over arrays on the driver and returns a local
  * frame, planned as one partition (see [[LocalGraph]]): an
  * ORDER BY over it runs as one task with no exchange. Above the
  * threshold, or with the threshold at -1, the walk is Pregel-shaped:
  * each round is ONE edge equi-join of the CURRENT FRONTIER (not the full
  * vertex set) + one anti-join against settled vertices + distinct —
  * all frontier-sized, never corpus-sized — and
  * `localCheckpoint` truncates the growing lineage each round (the
  * [[Components]] discipline; on a cluster, `checkpoint()` to the
  * cluster FS). Both paths stop early when a frontier empties.
  */
object Bfs {

  /** (id, dist) for every vertex within `maxDepth` hops of a seed. */
  def hopDistances(pairs: DataFrame, aCol: String, bCol: String,
                   maxDepth: Int): DataFrame =
    LocalGraph.ifSmall(pairs, aCol, bCol) match {
      case Some(g) =>
        val dist = localDistances(g, maxDepth)
        g.frame(pairs.sparkSession, "id", "dist", dist, v => dist(v) >= 0)
      case None => distributedDistances(pairs, aCol, bCol, maxDepth)
    }

  /** Hop distance per vertex index, -1 where unreached. */
  private def localDistances(g: LocalGraph, maxDepth: Int): Array[Long] = {
    val dist = Array.fill(g.size)(-1L)
    var frontier = g.ids.indices.filter(v => g.ids(v) % 10 == 0)
    frontier.foreach(dist(_) = 0L)
    var d = 1L
    while (d <= maxDepth && frontier.nonEmpty) {
      frontier = frontier.flatMap(g.adj(_)).distinct.filter(dist(_) < 0)
      frontier.foreach(dist(_) = d)
      d += 1
    }
    dist
  }

  private def distributedDistances(pairs: DataFrame, aCol: String,
                                   bCol: String, maxDepth: Int): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var dist = edges.select(col("src").as("id")).distinct()
        .filter(col("id") % 10 === 0)
        .select(col("id"), lit(0L).as("dist"))
        // lazy: round 1's isEmpty/union materializes it in the same job
        .localCheckpoint(false)
      var frontier = dist
      var d = 1L
      var done = false
      while (d <= maxDepth && !done) {
        val next = frontier.join(edges, col("id") === col("src"))
          .select(col("dst").as("id")).distinct()
          .join(dist, Seq("id"), "left_anti")
          .select(col("id"), lit(d).as("dist"))
          .localCheckpoint(true)
        if (next.isEmpty) done = true
        else { dist = dist.union(next).localCheckpoint(false)
               frontier = next; d += 1 }
      }
      dist
    } finally { edges.unpersist(); () }
  }
}
