package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark JVM for one workload. It
  *   1. points the program's scratch root at this run's own state dir,
  *   2. builds the session and runs one untimed pass (set-up ends here),
  *   3. runs two more untimed passes: a warm-up pass, then a check pass
  *      that writes each query's result to parquet for the oracle check
  *      run.py makes,
  *   4. runs timed passes until `--seconds` have elapsed, each query's
  *      declared result materialized with the `noop` sink,
  *   5. takes the live heap after a full GC,
  *   6. in a traced run, probes the kernels,
  * and writes everything it measured as one JSON file (`--out`).
  *
  * The passes after set-up still pay much of the JIT's remaining compile
  * work and are the least repeatable ones, hence the two untimed passes.
  * Traced runs alternate untraced and traced passes, so the tracing
  * overhead is measured in the same window as the traced numbers. Usage (run.py builds the command line):
  * {{{
  * graftbench.Main --sf <lake> --state <dir> --queries a,b,c --seconds 10
  *   --trace 0|1 --cpus 2 --out result.json --workload name
  * }}} */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val sf = opt("sf")
    val state = Paths.get(opt("state")).toAbsolutePath
    val names = opt("queries").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt

    redirectProgramScratch(state.resolve("program"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.warehouse.dir", state.resolve("warehouse").toString)
      .config("spark.local.dir", state.resolve("spark-local").toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // as in graft.Bench: a workload's stages must not evict each other's
      // generated classes between passes
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val catalog = names.map(n => n -> graft.SparkEntry.queries(n))
    var attempted = 0
    val errors = mutable.ArrayBuffer.empty[String]
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val checkDir = state.resolve("check")

    /** (build seconds, execute seconds), or None if the query threw. The
      * check pass writes the result to parquet; every other pass to noop. */
    def runQuery(name: String, fn: (SparkSession, String) => DataFrame,
                 tr: Option[Tracer], check: Boolean): Option[(Double, Double)] = {
      attempted += 1
      try Tracer.within(tr, "query", name) {
        val t0 = System.nanoTime()
        val df = Tracer.within(tr, "build", name)(fn(spark, sf))
        val t1 = System.nanoTime()
        Tracer.within(tr, "execute", name) {
          if (check) df.coalesce(1).write.mode("overwrite")
            .parquet(checkDir.resolve(name).toString)
          else df.write.format("noop").mode("overwrite").save()
        }
        Some(((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
      } catch {
        case e: Throwable =>
          errors += s"$name: ${e.getClass.getName}: ${e.getMessage}".take(500)
          None
      }
    }

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** One pass over the workload; `kind` is setup, warmup, check or timed. */
    def pass(kind: String, tr: Option[Tracer]): Unit = {
      val i = passes.size
      tr.foreach(_.attach())
      val before = Probe.sample()
      val t0 = System.nanoTime()
      val qs = Tracer.within(tr, "pass", s"pass $i") {
        catalog.map { case (n, fn) => n -> runQuery(n, fn, tr, kind == "check") }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      tr.foreach(_.detach())
      val ok = qs.collect { case (n, Some(t)) => n -> t }
      passes += Map("pass" -> i, "kind" -> kind, "traced" -> tr.isDefined, "wall_s" -> wall,
        "catalog.build_s" -> ok.map(_._2._1).sum,
        "queries" -> ok.map { case (n, (b, e)) => n -> (b + e) }.toMap,
        "failed" -> qs.count(_._2.isEmpty)) ++
        Probe.sample().minus(before) ++
        tr.map(_.takeCounters()).getOrElse(Map.empty)
    }

    val launchMs = ProcessHandle.current().info().startInstant().get().toEpochMilli
    def sinceLaunch(): Double = (System.currentTimeMillis() - launchMs) / 1e3
    val phases = mutable.LinkedHashMap.empty[String, Double]

    pass("setup", None)
    val setupS = sinceLaunch()
    phases("setup") = setupS

    pass("warmup", None)
    pass("check", None)
    phases("check") = sinceLaunch()

    val minPasses = if (trace) 4 else 2
    var stateFirst = Map.empty[String, Double]
    val workloadSpan = tracer.map(_.begin("workload", opt("workload")))
    val tStart = System.nanoTime()
    var timed = 0
    while (timed < minPasses || (System.nanoTime() - tStart) / 1e9 < seconds) {
      pass("timed", if (trace && timed % 2 == 1) tracer else None)
      timed += 1
      if (timed == 1) stateFirst = sessionState(spark)
    }
    workloadSpan.foreach(s => tracer.get.finish(s))
    val stateLast = sessionState(spark)
    phases("timed") = sinceLaunch()
    val heapMb = Probe.liveHeapMb()
    phases("heap") = sinceLaunch()

    val kernels = if (trace) Kernels.probe(spark, sf) else Map.empty
    phases("kernels") = sinceLaunch()
    val oracles = graft.SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    spark.stop()
    phases("stop") = sinceLaunch()

    val spanRows = tracer.map(_.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "qid" -> s.qid, "name" -> s.name, "label" -> s.label,
      "start_ns" -> s.start, "end_ns" -> s.end))).getOrElse(Nil)
    val result = Map(
      "setup_s" -> setupS,
      "phase_end_s" -> phases,
      "passes" -> passes,
      "heap_live_mb" -> heapMb,
      "state_first" -> stateFirst,
      "state_last" -> stateLast,
      "kernels" -> kernels,
      "self_s" -> tracer.map(_.selfSeconds()).getOrElse(Map.empty),
      "spans" -> spanRows,
      "attempted" -> attempted,
      "errors" -> errors,
      "check_dir" -> checkDir.toString,
      "oracles" -> oracles)
    Files.writeString(Paths.get(opt("out")), Json(result))
  }

  /** graft.ops.TempFiles keeps fixtures and build sentinels under a fixed
    * root; point it at this run's state dir so every run starts from the
    * same (empty) on-disk state and writes nothing outside it. Fails if the
    * program no longer routes its scratch through that root. */
  private def redirectProgramScratch(root: Path): Unit = {
    // the object's vals compile to static final fields, which reflection
    // cannot set; Unsafe can, and this runs before any program code reads it
    val f = Class.forName("graft.ops.TempFiles$").getDeclaredField("root")
    val u = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    u.setAccessible(true)
    val unsafe = u.get(null).asInstanceOf[sun.misc.Unsafe]
    unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f), root.toString)
    val probe = Paths.get(graft.ops.TempFiles.dir("harness-probe"))
    require(probe.startsWith(root),
      s"program scratch still resolves to $probe, outside the run's state dir")
  }

  /** Session-wide state a long-lived session could accumulate. */
  private def sessionState(spark: SparkSession): Map[String, Double] = {
    val cm = spark.sharedState.cacheManager
    val cached = try {
      val f = cm.getClass.getDeclaredField("cachedData")
      f.setAccessible(true)
      f.get(cm).asInstanceOf[scala.collection.Seq[_]].size.toDouble
    } catch { case _: ReflectiveOperationException => Double.NaN }
    val sc = spark.sparkContext
    Map(
      "state.cached_plans" -> cached,
      "state.persisted_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "state.storage_mb" -> sc.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / 1048576.0)
  }
}
