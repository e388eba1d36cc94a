package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.text.NearDup

/** Asymmetric containment join: the SSJoin-style prefix filter must find
  * every pair with |A∩B|/|A| ≥ t (completeness is a theorem — the spec
  * checks the implementation matches it), including the small-doc-inside-
  * big-doc pairs that Jaccard-based dedup structurally misses. */
class ContainmentSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Brute-force ordered containment pairs over every (a, b), a ≠ b. */
  private def bruteForce(docs: Seq[(Long, String)], thr: Double) = {
    val df = docs.toDF("doc_id", "text")
      .select(col("doc_id"), NearDup.shingles(col("text")).as("sh"))
    df.toDF("a_id", "a_sh")
      .join(df.toDF("b_id", "b_sh"), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(col("a_sh")).cast("double"), 4).as("containment"))
      .filter(col("containment") >= thr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  private def viaIndex(docs: Seq[(Long, String)], thr: Double, key: String) = {
    val pairs = NearDup.containmentPairs(
      docs.toDF("doc_id", "text"), "doc_id", "text", thr, cacheKey = key)
    // scoped: clearing the WHOLE session cache here would unpersist the
    // shared sf-corpus frames other suites still hold (measured as an
    // order-dependent plan flake in the full run)
    try pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    finally NearDup.clearCachesFor(spark, key)
  }

  test("finds a quoted doc (containment 1.0) whose Jaccard is far below threshold") {
    val big = (1 to 60).map(i => s"w$i").mkString(" ") // 58 trigram shingles
    val small = (1 to 8).map(i => s"w$i").mkString(" ") // 6 shingles, all in big
    val docs = Seq((1L, small), (2L, big))
    val found = viaIndex(docs, 0.8, "quote-fixture")
    assert(found.contains((1L, 2L, 1.0)), s"small-in-big pair missing: $found")
    assert(!found.exists(p => p._1 == 2L), "big doc is NOT contained in small")
    // the same pair is invisible to symmetric Jaccard at any useful cut
    val j = Seq((1L, small), (2L, big)).toDF("doc_id", "text")
      .select(NearDup.shingles(col("text")).as("sh"))
      .agg(collect_list(col("sh"))).head().getSeq[Seq[String]](0)
    val jac = j(0).toSet.intersect(j(1).toSet).size.toDouble /
      j(0).toSet.union(j(1).toSet).size
    assert(jac < 0.2, s"fixture degenerate: jaccard $jac")
  }

  test("prefix-filter index equals brute force on a randomized corpus " +
    "(completeness AND precision)") {
    val rnd = new scala.util.Random(20260813L)
    // overlapping docs drawn from a tiny vocab so containment pairs occur
    val docs = (1L to 30L).map { id =>
      val n = 5 + rnd.nextInt(20)
      val start = rnd.nextInt(25)
      (id, (start until start + n).map(i => s"t$i").mkString(" "))
    }
    for (thr <- Seq(0.7, 0.8, 0.95)) {
      val expected = bruteForce(docs, thr)
      val actual = viaIndex(docs, thr, s"rand-$thr")
      assert(actual == expected,
        s"thr=$thr missing=${expected -- actual} extra=${actual -- expected}")
    }
  }

  test("docs with fewer than 3 tokens (empty shingle set) yield no pairs and no error") {
    val docs = Seq((1L, "only two"), (2L, "a b c d e f g"), (3L, "x"))
    assert(viaIndex(docs, 0.8, "tiny-docs").isEmpty)
  }

  test("clearCachesFor releases the checkpointed pair tables' blocks") {
    val key = "release-fixture"
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h i"),
      (3L, "a b c d")).toDF("doc_id", "text")
    val tables = Seq(
      NearDup.containmentPairs(docs, "doc_id", "text", 0.8, cacheKey = key),
      NearDup.minhashDupPairsCached(docs, "doc_id", "text", 0.5, key))
    assert(tables.forall(_.count() > 0), "fixture has no pairs")
    val rdds = tables.map(_.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd)
    val persisted = spark.sparkContext.getPersistentRDDs
    assert(rdds.forall(r => persisted.contains(r.id)))
    NearDup.clearCachesFor(spark, key)
    val left = spark.sparkContext.getPersistentRDDs
    assert(rdds.forall(r => !left.contains(r.id)), "a checkpointed pair table is still persisted")
  }
}
