package graft

/** Multi-JVM correctness gate (round 10, VERDICT r9 "next" #1): runs the
  * SAME dumps as [[Verify]] but on `local-cluster[2,4,4096]` — a real
  * standalone master + 2 workers, each executor a SEPARATE forked JVM.
  * Everything the single-JVM `local[n]` gate structurally cannot
  * exercise happens here for real:
  *   - executor-side (de)serialization of every custom kernel — the
  *     Catalyst expressions in `functions/GraftFunctions`,
  *     `ReservoirQuantile`, the typed `Aggregator`s — instead of
  *     same-JVM object passing;
  *   - real broadcast distribution over RPC (the `broadcast(dim)` and
  *     one-row model-bundle joins the catalog leans on);
  *   - whole-stage-codegen classes compiled and loaded in a DIFFERENT
  *     JVM than the one that generated them;
  *   - task-result / shuffle-block transport between processes.
  * The output feeds the ordinary DuckDB oracle compare
  * (`tools/check_oracle.py --subset`), so "works multi-JVM" is judged
  * by the same hash gate as the driver's own artifact.
  *
  * Usage: SPARK_HOME=/opt/spark sbt "runMain graft.ClusterVerify
  *   <sfDir> <outDir> [names]" — SPARK_HOME is required: the in-process
  *   Worker builds each executor's launch command from the Spark
  *   distribution's jars.
  */
object ClusterVerify {
  /** The JDK-17 module opens Spark needs; spark-submit injects these for
    * executors, a programmatic local-cluster launch must do it itself
    * (same list as build.sbt's driver-side javaOptions). */
  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    require(sys.env.contains("SPARK_HOME"),
      "local-cluster mode needs SPARK_HOME (executor launch command is " +
        "built from the distribution's jars)")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER",
      "local-cluster[2,4,4096]")
    // executors are fresh JVMs: they get Spark from SPARK_HOME/jars and
    // need ONLY the graft classes appended (same machine, plain dir)
    val graftClasses = "/root/repo/target/scala-2.13/classes"
    val spark = GraftSession.builder(master, 8) // 2 workers × 4 cores
      .config("spark.executor.memory", "3g") // worker offers 4096 MiB
      .config("spark.executor.extraClassPath", graftClasses)
      .config("spark.executor.extraJavaOptions",
        jdk17AddOpens + " -XX:ReservedCodeCacheSize=512m")
      .getOrCreate()
    Verify.run(spark, sfDir, outDir, only)
    // topology recorded AFTER the run (registration is async at startup)
    // and asserted: a standalone app with zero live executors would hang,
    // but the committed artifact must still NAME the multi-JVM evidence
    val execs = spark.sparkContext.getExecutorMemoryStatus.size
    println(s"[cluster-verify] master=$master block_managers=$execs")
    require(master.startsWith("local[") || execs >= 3,
      s"expected driver + 2 executor JVMs, saw $execs block managers — " +
        "the gate did not actually run multi-JVM")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/cluster_mode.json"),
      s"""{"master": "$master", "block_managers_incl_driver": $execs}""")
    spark.stop()
  }
}
