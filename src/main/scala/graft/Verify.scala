package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Dumps run on a small THREAD POOL (round-8, VERDICT r7 #1: the gate's
  * Spark half was ~11 min of one-query-at-a-time dumps on a 32-core box —
  * per-query driver latency, not compute, dominates at sf0.01). Safety
  * argument for concurrency inside ONE JVM/session:
  *   - every query writes only to its own `outDir/<name>` directory;
  *   - every snapshot-fixture build/mutation/gc runs under
  *     [[ops.SnapLog.withTableLock]] on the table root, and readers pin
  *     explicit versions — concurrent additive commits never change a
  *     pinned read;
  *   - scratch fixtures key on (name, sfDir-epoch) via [[ops.TempFiles]],
  *     so distinct queries never share a mutable path un-locked;
  *   - session-GLOBAL names (temp views, fixed-name managed tables) are
  *     each registered by EXACTLY ONE catalog query — `sql_surface` owns
  *     v_orders/v_customer, `gold_star_schema` owns silver_events/
  *     silver_customers and the five gold_* CTAS tables; every other
  *     managed table is epoch- or key-tagged. Two queries reusing one
  *     global name would race silently under the pool, so the ownership
  *     map is ENFORCED by GlobalNameSpec (round-9, ADVICE r8 #1), not
  *     just documented: adding a second user of a fixed name fails the
  *     build with a pointed message.
  * Spark supports concurrent jobs in one session by design.
  * Each worker thread sets the active session explicitly (Spark's
  * active-session state is thread-local). Per-query wall times land in
  * `outDir/verify_timings.json` so the gate's cost is named in evidence,
  * query by query, rather than guessed at (round-8 VERDICT #1a). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names (local iteration —
    // the driver always runs the full catalog)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local(GraftSession.cpus)
    run(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** Dump `only` (or every) declared query to `outDir` on the given
    * session; a name in `only` that is not declared fails the call with
    * `IllegalArgumentException` before anything runs. The one body
    * [[main]] (single-JVM local) and [[ClusterVerify]] (multi-JVM
    * local-cluster) share, so the cluster gate exercises exactly the
    * driver gate's code path. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Option[Set[String]]): Unit = {
    // a mistyped name must not read as a pass: reject before any dump
    val unknown = only.toSeq.flatten.filterNot(SparkEntry.queries.contains).sorted
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown queries: ${unknown.mkString(", ")}")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val todo = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // pool width: enough to hide per-query driver latency, small enough
    // that 32 local cores still back each query's tasks. Overridable for
    // bisecting a suspected concurrency interaction (VERIFY_PAR=1 is the
    // exact pre-round-8 sequential behavior).
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "8").toInt.max(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val timings =
      new java.util.concurrent.ConcurrentHashMap[String, Double]()
    try {
      val futs = todo.map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            SparkSession.setActiveSession(spark)
            val t0 = System.nanoTime()
            try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
            }
            timings.put(name, (System.nanoTime() - t0) / 1e9)
          }
        })
      }
      futs.foreach(_.get())
    } finally pool.shutdown()
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    // per-query dump seconds, sorted slowest-first for direct reading
    import scala.jdk.CollectionConverters._
    val tj = timings.asScala.toSeq.sortBy(-_._2)
      .map { case (k, v) => // Locale.ROOT: a comma-decimal locale would
        // emit invalid JSON numbers
        s"${q(k)}: ${String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(v))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_timings.json"), tj)
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The oracle map as the JSON document the driver's `json.load` reads —
    * a PURE function (round-7, VERDICT r6 #1) so the round-trip spec can
    * assert a strict parser recovers every entry verbatim, insuring the
    * driver-side correctness artifact against escaping bugs. */
  def oracleJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}
