package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-kernel throughput of graft's custom SQL functions over the lake's
  * own `documents` text and `embeddings` vectors. Inputs are replicated
  * (20k rows each at sf0.1) and cached first, so a timing covers the kernel and the
  * projection around it, not the parquet scan. Each kernel is run once to
  * warm up and then `Reps` times; the median time gives rows per second. */
object Kernels {
  private val DocCopies = 4   // 5k documents at sf0.1
  private val VecCopies = 10  // 2k embeddings at sf0.1
  private val Reps = 3

  def probe(spark: SparkSession, sf: String): Map[String, Double] = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .crossJoin(spark.range(DocCopies).toDF("copy"))
      .select(col("text"),
        call_function("graft_shingles", col("text")).as("sh"))
      .persist(StorageLevel.MEMORY_ONLY)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .crossJoin(spark.range(VecCopies).toDF("copy"))
      .select(col("embedding").cast("array<double>").as("v"),
        transform(col("embedding"), x => round(x * 1e6).cast("long")).as("q"))
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      val nDocs = docs.count().toDouble
      val nVecs = vecs.count().toDouble
      val cents = vecs.select("q").limit(16).collect().map(_.getSeq[Long](0)).toSeq
      def k(name: String, args: Column*) = call_function(name, args: _*)
      val probes: Seq[(String, DataFrame, Double, Column)] = Seq(
        ("graft_shingles", docs, nDocs, k("graft_shingles", col("text"))),
        ("graft_minhash_sig", docs, nDocs, k("graft_minhash_sig", col("sh"))),
        ("graft_jaccard", docs, nDocs,
          k("graft_jaccard", col("sh"), slice(col("sh"), 2, 1 << 20))),
        ("graft_simhash64", docs, nDocs, k("graft_simhash64", col("text"))),
        ("graft_fnv1a64", docs, nDocs, k("graft_fnv1a64", col("text"))),
        ("graft_repstats", docs, nDocs, k("graft_repstats", col("text"))),
        ("graft_winnow", docs, nDocs, k("graft_winnow", col("text"), lit(5), lit(4))),
        ("graft_lsh_bands", vecs, nVecs,
          k("graft_lsh_bands", col("v"), lit(64), lit(2))),
        ("graft_lattice_d2s", vecs, nVecs,
          k("graft_lattice_d2s", col("q"), typedlit(cents))))
      probes.map { case (name, df, rows, expr) =>
        val q = df.select(expr.as("out"))
        def once(): Double = {
          val t0 = System.nanoTime()
          q.write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once()
        val ts = Seq.fill(Reps)(once()).sorted
        s"kernel.$name.rows_per_s" -> rows / ts(Reps / 2)
      }.toMap
    } finally {
      docs.unpersist(blocking = true)
      vecs.unpersist(blocking = true)
    }
  }
}
