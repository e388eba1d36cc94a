package graftbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics

/** Process- and host-wide counters sampled around every pass, traced or
  * not. Their per-pass deltas show whether a timed pass still pays JIT,
  * GC or Janino work (warm-up) and whether the host stole CPU from it. */
final case class Sample(jitMs: Long, gcMs: Long, cpuNs: Long,
                        compiles: Long, classes: Long,
                        stealTicks: Long, totalTicks: Long) {
  def minus(o: Sample): Map[String, Double] = Map(
    "jvm.jit_s" -> (jitMs - o.jitMs) / 1e3,
    "jvm.gc_s" -> (gcMs - o.gcMs) / 1e3,
    "jvm.cpu_s" -> (cpuNs - o.cpuNs) / 1e9,
    "codegen.compiles" -> (compiles - o.compiles).toDouble,
    "codegen.classes" -> (classes - o.classes).toDouble,
    "host.steal_pct" -> {
      val t = totalTicks - o.totalTicks
      if (t <= 0) 0.0 else 100.0 * (stealTicks - o.stealTicks) / t
    },
    "host.load_avg" -> Probe.loadAvg)
}

object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def loadAvg: Double = os.getSystemLoadAverage

  def sample(): Sample = {
    val (steal, total) = cpuTicks()
    Sample(
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum,
      os.getProcessCpuTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
      steal, total)
  }

  /** (steal, total) jiffies from the aggregate line of /proc/stat; zeros
    * where the file does not exist. */
  private def cpuTicks(): (Long, Long) = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.isReadable(f)) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f.toFile)
      try {
        val xs = src.getLines().next().split("\\s+").drop(1).take(8)
          .map(_.toLong)
        (if (xs.length > 7) xs(7) else 0L, xs.sum)
      } finally src.close()
    }
  }

  /** Live heap in MB after full collections. Spark's ContextCleaner frees
    * shuffle, broadcast and RDD state only after a GC has found their
    * handles unreachable, so collect, give the cleaner time, and collect
    * again until the heap stops shrinking. */
  def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    Thread.sleep(300)
    var cur = collect()
    var n = 1
    while (cur < prev * 0.99 && n < 5) {
      prev = cur
      Thread.sleep(300)
      cur = collect()
      n += 1
    }
    cur.min(prev)
  }
}
