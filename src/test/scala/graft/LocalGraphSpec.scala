package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Bfs, Components, LabelProp}

/** The driver-side rounds of the small-graph fixed points
  * ([[graft.ops.LocalGraph]]) agree with the distributed loops they stand
  * in for under the broadcast threshold: the same rows on random and
  * edge-case graphs, and the same refusal past the round budget. The
  * distributed side is forced with the threshold at -1. */
class LocalGraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[A](value: String)(f: => A): A = {
    val prev = spark.conf.get(thresholdKey)
    try { spark.conf.set(thresholdKey, value); f }
    finally spark.conf.set(thresholdKey, prev)
  }

  /** A driver-side result: the rows on the driver, coalesced to one
    * partition. */
  private def isLocal(df: DataFrame): Boolean = df.queryExecution.logical match {
    case Repartition(1, false, _: LocalRelation) => true
    case _ => false
  }

  private val operators: Seq[(String, DataFrame => DataFrame)] = Seq(
    "components" -> (p => Components.connectedComponents(p, "a", "b")),
    "label propagation" -> (p => LabelProp.communities(p, "a", "b", rounds = 4)),
    "bfs" -> (p => Bfs.hopDistances(p, "a", "b", maxDepth = 4)))

  /** The refusal message, or whether the result is a driver-side frame
    * and its rows. */
  private def run(op: DataFrame => DataFrame, pairs: DataFrame)
      : Either[String, (Boolean, Set[(Long, Long)])] =
    try {
      val out = op(pairs)
      Right((isLocal(out), out.as[(Long, Long)].collect().toSet))
    } catch { case e: IllegalStateException => Left(e.getMessage) }

  private def assertAgree(pairs: Seq[(Long, Long)], what: String): Unit = {
    val df = pairs.toDF("a", "b")
    operators.foreach { case (name, op) =>
      val local = run(op, df)
      val distributed = withThreshold("-1")(run(op, df))
      assert(local.forall(_._1), s"$name on $what did not take the driver path")
      assert(distributed.forall(!_._1),
        s"$name on $what ran on the driver with broadcasting off")
      assert(local.map(_._2) == distributed.map(_._2), s"$name disagrees on $what")
    }
  }

  test("driver and distributed rounds agree on random graphs") {
    // small id range: duplicates, reversed pairs, self-loops and several
    // components all occur; negative ids exercise the seed rule's modulus
    val gen = Gen.choose(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.choose(-25L, 40L), Gen.choose(-25L, 40L))))
    (0 until 8).foreach { i =>
      val pairs = gen.apply(Gen.Parameters.default, Seed(i.toLong)).get
      assertAgree(pairs, s"random graph #$i ${pairs.take(6)}…")
    }
  }

  test("driver and distributed rounds agree on the edge cases") {
    assertAgree(Nil, "the empty pair list")
    assertAgree(Seq((1L, 1L), (2L, 2L), (1L, 2L), (10L, 10L)), "self-loops")
    // multiplicity carries votes in label propagation: in round one
    // vertex 3 hears 4 three times and 2 and 5 twice each, so it takes 4;
    // counted once each, it would take 2
    assertAgree(Seq((1L, 2L), (1L, 2L), (2L, 1L), (3L, 2L), (2L, 3L),
      (3L, 4L), (4L, 3L), (3L, 4L), (5L, 3L), (3L, 5L), (20L, 21L), (21L, 20L)),
      "duplicate and reversed pairs")
  }

  test("both paths refuse a chain longer than the round budget") {
    val chain = (1L until 40L).map(i => (i + 1, i)).toDF("a", "b")
    val op = (p: DataFrame) => Components.connectedComponents(p, "a", "b", maxIter = 3)
    val local = intercept[IllegalStateException](op(chain))
    val distributed = withThreshold("-1")(intercept[IllegalStateException](op(chain)))
    assert(local.getMessage == distributed.getMessage)
    assert(local.getMessage.contains("connectedComponentsStar"))
  }

  test("the driver path is taken only up to threshold / 16 pairs of long ids") {
    val three = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val five = three ++ Seq((4L, 5L), (5L, 6L))
    // 48 bytes: three pairs of two longs fit, four do not
    withThreshold("48") {
      assert(isLocal(Components.connectedComponents(three.toDF("a", "b"), "a", "b")))
      assert(!isLocal(Components.connectedComponents(five.toDF("a", "b"), "a", "b")))
    }
    assert(!isLocal(Components.connectedComponents(
      Seq((1, 2), (2, 3)).toDF("a", "b"), "a", "b")), "int ids took the driver path")
  }
}
