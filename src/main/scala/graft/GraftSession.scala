package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine builds a [[SparkSession]]. Every main and the
  * test session start from [[builder]], so they share the invariants the
  * catalog's results and timings depend on:
  *   - session time zone UTC: week boundaries and formatted timestamps
  *     must not follow the JVM's default zone (cross-JVM fixtures and the
  *     DuckDB oracles both assume UTC);
  *   - the graft kernels and optimizer rules, injected by
  *     [[functions.GraftExtensions]];
  *   - managed tables under the checkout's `target/warehouse` (sbt runs
  *     every main and the tests from the checkout root);
  *   - no Spark UI;
  *   - a catalog-sized generated-code cache (see [[builder]]).
  * Mains that need more (executor settings on a local cluster) add them
  * to the returned builder. */
object GraftSession {
  /** Task slots for the local mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Paths.get("target", "warehouse").toAbsolutePath.toString)
      .config("spark.ui.enabled", "false")
      // The generated-code compile cache defaults to 100 entries — sized
      // for a handful of hot queries, not a 367-query catalog. Under the
      // default, every measured run re-Janino-compiles most stages (the
      // warmup pass's compilations are long evicted by the time the
      // clock starts), which both inflates and DESTABILIZES medians
      // (round-10 baseline: queries swung 0.5 s ↔ 2.6 s run-over-run
      // with no code change, tracking cache-pressure shifts as the
      // catalog grew). Any real multi-query service sizes this cache to
      // its workload; catalog-sized here, independent of core count.
      .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** A `local[cpus]` session with `cpus` shuffle partitions. */
  def local(cpus: Int): SparkSession =
    builder(s"local[$cpus]", cpus).getOrCreate()
}
