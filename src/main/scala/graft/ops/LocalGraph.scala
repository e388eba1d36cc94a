package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The driver-side form of a pair graph, and the one place that decides
  * whether the fixed-point operators ([[Components.connectedComponents]],
  * [[LabelProp.communities]], [[Bfs.hopDistances]]) run their rounds over
  * plain arrays on the driver or as distributed DataFrame loops.
  *
  * The rule is Spark's own for shipping a relation whole: a pair list
  * fits when its two long ids (16 bytes a pair) stay under
  * `spark.sql.autoBroadcastJoinThreshold`, i.e. at most threshold / 16
  * pairs; a threshold of -1 (broadcasting off) always keeps the
  * distributed loop. The choice costs one bounded collect of
  * `maxEdges + 1` pairs, so an over-threshold graph is never pulled whole.
  * The lake's near-dup pair graphs have a few hundred edges (tens of
  * thousands in the 10× stress corpus), where each distributed round is
  * pure coordination overhead (shuffles and a driver job for a few KB of
  * labels); the distributed loops remain the path above the threshold
  * and the reference the local rounds are tested against.
  *
  * A result comes back from [[LocalGraph#frame]] coalesced to one
  * partition, which the planner reads as `SinglePartition`: the sort,
  * window or aggregate a query puts on top runs as one task with no
  * exchange, for rows the driver already holds.
  *
  * `ids` holds the distinct vertex ids in ascending order; `adj(v)` the
  * dense indices of v's neighbours. Every pair contributes both
  * directions, so a duplicated pair or a self-loop keeps the multiplicity
  * the distributed loops' `union` of both orientations gives it.
  */
private[ops] final class LocalGraph private (val ids: Array[Long],
                                val adj: Array[Array[Int]]) {
  def size: Int = ids.length

  /** A two-column local frame (id first) over the vertices `keep` admits,
    * in ascending id order, as one partition. */
  def frame(spark: SparkSession, idCol: String, valueCol: String,
            values: Array[Long], keep: Int => Boolean = _ => true): DataFrame = {
    val rows = new java.util.ArrayList[Row](size)
    for (v <- 0 until size if keep(v)) rows.add(Row(ids(v), values(v)))
    spark.createDataFrame(rows, StructType(Seq(
      StructField(idCol, LongType), StructField(valueCol, LongType)))).coalesce(1)
  }
}

private[ops] object LocalGraph {

  /** The pair graph of `pairs` on the driver when it fits one broadcast;
    * None (keep the distributed loop) when it has more than
    * threshold / 16 pairs, when broadcasting is off, or when an id
    * column is not a non-null long. */
  def ifSmall(pairs: DataFrame, aCol: String, bCol: String): Option[LocalGraph] = {
    val threshold = pairs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val longIds = Seq(aCol, bCol).forall(c => pairs.schema(c).dataType == LongType)
    if (threshold < 0 || !longIds) None
    else {
      val maxEdges = math.min(threshold / 16, Int.MaxValue - 1L).toInt
      val rows = pairs.select(col(aCol), col(bCol)).limit(maxEdges + 1).collect()
      if (rows.length > maxEdges || rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
      else Some(of(rows.map(_.getLong(0)), rows.map(_.getLong(1))))
    }
  }

  /** The symmetric adjacency of the pairs (a(i), b(i)). */
  private def of(a: Array[Long], b: Array[Long]): LocalGraph = {
    val ids = (a ++ b).distinct.sorted
    def index(id: Long) = java.util.Arrays.binarySearch(ids, id)
    val src = a.map(index) ++ b.map(index)
    val dst = b.map(index) ++ a.map(index)
    val adj = Array.tabulate(ids.length)(_ => Array.newBuilder[Int])
    src.indices.foreach(e => adj(src(e)) += dst(e))
    new LocalGraph(ids, adj.map(_.result()))
  }
}
