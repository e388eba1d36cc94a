package graft

/** Benchmark main: one UNTIMED full-catalog warm-up pass, then every
  * declared query N times (default 3) reporting the per-query MEDIAN —
  * single-shot timings on a shared box swing ±2× (SURVEY.md §6), and
  * round-5's evidence showed a second failure mode: warming up with one
  * synthetic query leaves the first ~30 alphabetical queries charged for
  * JIT/codegen/page-cache ramp (recorded 3-4× their quiet-machine cost).
  * The catalog-wide warm-up pass amortizes all of that before any clock
  * starts. Load average is sampled PER QUERY (not just run start/end) so
  * a contended stretch is attributable to the specific medians it
  * inflated. The one-line stdout JSON keeps the driver contract
  * (`queries` = median seconds) and repeats the run summary in its LAST
  * fields — the driver's tail capture truncates from the front, so the
  * round evidence file stays self-contained even when the per-query map
  * is cut. Full per-iteration detail lands in BENCH_full.json. */
object Bench {
  /** 1-min system load average — sampled per query so contended stretches
    * are self-identifying in the evidence file. */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val warmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")

    // fixed (sorted) execution order: hash-map order shifts whenever a
    // query is added, which silently changes each query's cache/JVM
    // context between rounds and poisons round-over-round comparison
    val catalog = SparkEntry.queries.toSeq.sortBy(_._1)

    // UNTIMED warm-up: the full catalog, so JIT compilation, codegen
    // caches, fixture builds, and the OS page cache are all hot before
    // the first measured query — the bench measures queries, not ramp.
    (1 to warmup).foreach { _ =>
      catalog.foreach { case (name, fn) =>
        try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          System.err.println(s"[bench warmup] $name failed: ${e.getMessage}")
        }
      }
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    val results = catalog.map { case (name, fn) =>
      val loadHere = loadAvg()
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            Some(name)
        }
        ((System.nanoTime() - t0) / 1e9, err)
      }
      (name, times.map(_._1), times.flatMap(_._2).headOption, loadHere)
    }
    val med = results.map { case (k, ts, _, _) => k -> median(ts) }
    val qs = med.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errors = results.flatMap(_._3)
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = med.map(_._2).sum

    val loadEnd = loadAvg()
    val full = results.map { case (k, ts, _, ld) =>
      s"""  "$k": {"median":${median(ts)},"min":${ts.min},"load":$ld,""" +
        s""""iters":[${ts.mkString(",")}]}"""
    }.mkString("{\n", ",\n",
      s""",\n  "total_median":$total,"n_queries":${results.size},""" +
      s""""iters":$iters,"warmup_passes":$warmup,"sf":"$sfDir",""" +
      s""""load_avg_start":$loadStart,"load_avg_end":$loadEnd\n}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/BENCH_full.json"), full)

    // summary fields REPEATED at the end of the line: the driver's tail
    // capture keeps the line's suffix, so total/count/load must sit
    // after the (long) queries map to survive truncation
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir","iters":$iters,"warmup_passes":$warmup,"n_queries":${results.size},"total_sec":$total,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"full":"BENCH_full.json"}"""
    // the SAME line also lands in a file: the round driver's stdout tail
    // capture truncates from the front, which cost round 10 its whole
    // per-query round-over-round comparison (PERF_r10 n_common=0) — a
    // file copy makes the per-query map robust to any tail length
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/BENCH_line.json"), line)
    println(line)
    spark.stop()
    // a broken query must fail the bench run, not silently inflate it
    if (errors.nonEmpty) sys.exit(1)
  }
}
