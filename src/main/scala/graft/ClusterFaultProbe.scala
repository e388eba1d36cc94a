package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Executor-LOSS resilience probe (round 10, companion to
  * [[ClusterVerify]] and FaultInjectionSpec): on a real 1000-executor
  * cluster the everyday failure bigger than a task retry is a whole
  * executor dying mid-job — its running tasks fail AND its shuffle
  * output disappears, forcing FetchFailed-driven parent-stage
  * recomputation, and the standalone master must relaunch a
  * replacement. `local[n]` cannot express any of this; under
  * `local-cluster[2,4,4096]` the executors are real child processes, so
  * this probe runs one deterministic shuffle-heavy job twice — clean,
  * then with `kill -9` of one executor JVM mid-flight — and requires
  * the two results byte-identical.
  *
  * The job is two chained shuffle stages over a salted synthetic range
  * (map-side sha2 work makes it long enough to kill mid-stage, exact
  * integer sums make the output order-independent and replayable), so
  * the kill loses BOTH running tasks and stage-1 shuffle files.
  *
  * Usage: SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13
  *   sbt "runMain graft.ClusterFaultProbe <outJson>"
  */
object ClusterFaultProbe {

  private def job(spark: SparkSession): Seq[String] = {
    // stage 0: 64 tasks of CPU-bound hashing; stage 1: shuffle to 997
    // keys; stage 2: second shuffle folding to 16 buckets — exact longs
    // h is 8 hex digits (< 2^32): 6M-row ANSI sums stay far below
    // Long.Max (2^32 · 6e6 ≈ 2.6e16 ≪ 9.2e18)
    val df = spark.range(0L, 6_000_000L, 1L, 64)
      .select(col("id"), pmod(col("id"), lit(997L)).as("k"),
        conv(substring(sha2(conv(col("id"), 10, 16), 256), 1, 8), 16, 10)
          .cast("long").as("h"))
      .groupBy(col("k"))
      .agg(sum(col("h")).as("sh"), count(lit(1)).as("n"))
      .select(pmod(col("k"), lit(16L)).as("b"), col("sh"), col("n"))
      .groupBy(col("b"))
      .agg(sum(col("sh")).as("ssh"), sum(col("n")).as("sn"),
        count(lit(1)).as("nk"))
    df.collect().map(r => s"${r.getLong(0)}|${r.getLong(1)}|" +
      s"${r.getLong(2)}|${r.getLong(3)}").sorted.toSeq
  }

  private def executorPids(): Seq[ProcessHandle] = {
    import scala.jdk.CollectionConverters._
    ProcessHandle.current().descendants().iterator().asScala
      .filter(_.info().commandLine().map(_.contains(
        "CoarseGrainedExecutorBackend")).orElse(false))
      .toSeq
  }

  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("CLUSTER_FAULT_r10.json")
    require(sys.env.contains("SPARK_HOME"), "needs SPARK_HOME (see ClusterVerify)")
    val master = "local-cluster[2,4,4096]"
    val spark = GraftSession.builder(master, 64)
      .config("spark.executor.memory", "3g")
      .config("spark.executor.extraClassPath",
        "/root/repo/target/scala-2.13/classes")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // cold run pays JIT/codegen; the WARM run is the honest duration to
    // time the kill against (the first probe version scheduled the kill
    // at 40% of the COLD duration and the 4x-faster warm faulted run
    // finished before the kill ever fired - vacuous evidence)
    val clean = job(spark)
    val t0 = System.nanoTime()
    val warm = job(spark)
    val warmSec = (System.nanoTime() - t0) / 1e9
    require(warm == clean, "two clean runs disagree - job is nondeterministic")
    val before = executorPids()
    require(before.size == 2, s"expected 2 executor JVMs, saw ${before.size}")

    // faulted run: kill one executor once the job is genuinely mid-stage
    @volatile var killNanos = 0L
    val killer = new Thread(() => {
      Thread.sleep(math.max(200L, (warmSec * 0.35 * 1000).toLong))
      val victim = executorPids().headOption
        .getOrElse(sys.error("no executor process to kill"))
      System.err.println(s"[probe] killing executor pid=${victim.pid()}")
      victim.destroyForcibly()
      killNanos = System.nanoTime()
    })
    val t1 = System.nanoTime()
    killer.start()
    val faulted = job(spark)
    val endNanos = System.nanoTime()
    val faultedSec = (endNanos - t1) / 1e9
    killer.join()

    val survivors = executorPids().map(_.pid()).toSet
    val killedGone = before.map(_.pid()).toSet.diff(survivors)
    require(killedGone.nonEmpty,
      "the kill must have removed one of the original executor JVMs")
    require(killNanos != 0L && killNanos < endNanos,
      "the kill must land BEFORE the faulted job finishes - raise the " +
        "job size or lower the delay fraction")
    require(faulted == clean,
      s"executor loss changed the result: ${faulted.size} vs ${clean.size} " +
        s"rows; first diff = ${faulted.zip(clean).find(p => p._1 != p._2)}")
    val evidence =
      s"""{"master": "$master", "rows": ${clean.size},
         | "warm_clean_sec": ${f"$warmSec%.2f"},
         | "faulted_sec": ${f"$faultedSec%.2f"},
         | "kill_at_sec": ${f"${(killNanos - t1) / 1e9}%.2f"},
         | "killed_pids": [${killedGone.mkString(",")}],
         | "executor_jvms_after": ${survivors.size},
         | "kill_landed_mid_job": true,
         | "result_identical": true}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), evidence)
    println(s"[probe] OK $evidence")
    spark.stop()
  }
}
