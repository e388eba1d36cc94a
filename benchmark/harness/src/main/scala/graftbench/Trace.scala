package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBridge, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one query execution share `qid`, the id
  * of its `query` span. Times are epoch nanoseconds. */
final case class Span(id: Long, parent: Long, qid: Long, name: String,
                      label: String, start: Long, @volatile var end: Long)

/** In-memory tracing for the traced passes: spans around every layer call
  * the harness makes (workload > pass > query > build / execute), a child
  * span per Spark job, and per-layer counters from a SparkListener and a
  * QueryExecutionListener. Nothing is written until the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val SpanKey = "graftbench.span"
  private val ids = new AtomicLong
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val byId = new ConcurrentHashMap[Long, Span]
  private val jobs = new ConcurrentHashMap[Int, Span]
  private var stack: List[Span] = Nil
  private val raw = new ConcurrentHashMap[String, LongAdder]

  private def now: Long = System.nanoTime() + offsetNs
  private def add(k: String, v: Long): Unit =
    raw.computeIfAbsent(k, _ => new LongAdder).add(v)

  private def open(name: String, label: String, start: Long): Span = {
    val parent = stack.headOption
    val id = ids.incrementAndGet()
    val qid = if (name == "query") id else parent.map(_.qid).getOrElse(0L)
    val s = Span(id, parent.map(_.id).getOrElse(0L), qid, name, label, start, -1L)
    all.add(s); byId.put(id, s); stack = s :: stack
    sc.setLocalProperty(SpanKey, id.toString)
    s
  }

  private def close(s: Span, end: Long): Unit = {
    s.end = end
    stack = stack.tail
    sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
  }

  /** Runs `body` inside a span named after the layer it calls. */
  def span[T](name: String, label: String)(body: => T): T = {
    val s = open(name, label, now)
    try body finally close(s, now)
  }

  /** Opens a long-lived span (the workload) that `finish` closes. */
  def begin(name: String, label: String): Span = open(name, label, now)
  def finish(s: Span): Unit = close(s, now)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("sched.jobs", 1)
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      val qid = Option(byId.get(parent)).map(_.qid).getOrElse(0L)
      val s = Span(ids.incrementAndGet(), parent, qid, "job", s"job ${e.jobId}",
        e.time * 1000000L, -1L)
      all.add(s); jobs.put(e.jobId, s)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach(_.end = e.time * 1000000L)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      add("sched.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_ms", m.executorRunTime)
        add("exec.task_cpu_ns", m.executorCpuTime)
        add("exec.task_gc_ms", m.jvmGCTime)
        add("shuffle.write_b", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_b", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spill.b", m.diskBytesSpilled)
        add("scan.input_b", m.inputMetrics.bytesRead)
        add("scan.input_rows", m.inputMetrics.recordsRead)
        add("sink.output_b", m.outputMetrics.bytesWritten)
        add("sink.output_rows", m.outputMetrics.recordsWritten)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      add("catalyst.actions", 1)
      qe.tracker.phases.foreach { case (phase, p) =>
        add(s"catalyst.${phase}_ms", p.durationMs)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Delivers every pending event, then stops listening. */
  def detach(): Unit = {
    BenchBridge.drainListeners(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Counters accumulated since the previous call, in reporting units. */
  def takeCounters(): Map[String, Double] = {
    val snap = raw.asScala.map { case (k, a) => k -> a.sumThenReset().toDouble }
    def g(k: String) = snap.getOrElse(k, 0.0)
    val mb = 1048576.0
    Map(
      "catalyst.actions" -> g("catalyst.actions"),
      "catalyst.analysis_s" -> g("catalyst.analysis_ms") / 1e3,
      "catalyst.optimization_s" -> g("catalyst.optimization_ms") / 1e3,
      "catalyst.planning_s" -> g("catalyst.planning_ms") / 1e3,
      "sched.jobs" -> g("sched.jobs"),
      "sched.stages" -> g("sched.stages"),
      "sched.tasks" -> g("sched.tasks"),
      "exec.task_s" -> g("exec.task_ms") / 1e3,
      "exec.task_cpu_s" -> g("exec.task_cpu_ns") / 1e9,
      "exec.task_gc_s" -> g("exec.task_gc_ms") / 1e3,
      "shuffle.write_mb" -> g("shuffle.write_b") / mb,
      "shuffle.read_mb" -> g("shuffle.read_b") / mb,
      "shuffle.fetch_wait_s" -> g("shuffle.fetch_wait_ms") / 1e3,
      "spill.mb" -> g("spill.b") / mb,
      "scan.input_mb" -> g("scan.input_b") / mb,
      "scan.input_rows" -> g("scan.input_rows"),
      "sink.output_mb" -> g("sink.output_b") / mb,
      "sink.output_rows" -> g("sink.output_rows"))
  }

  def spans: Seq[Span] = all.asScala.toSeq.sortBy(s => (s.start, s.id))

  /** Self time per layer: each span's duration minus the part of it its
    * children cover (children may overlap: concurrent jobs). */
  def selfSeconds(): Map[String, Double] = {
    val done = spans.filter(_.end >= 0)
    val kids = done.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    done.foreach { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (c.start.max(s.start), c.end.min(s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = curB.max(b)
      }
      if (curB > curA) covered += curB - curA
      out(s.name) += ((s.end - s.start) - covered) / 1e9
    }
    out.toMap
  }
}

object Tracer {
  /** `body` inside a span when tracing, plainly otherwise. */
  def within[T](t: Option[Tracer], name: String, label: String)(body: => T): T =
    t match {
      case Some(tr) => tr.span(name, label)(body)
      case None => body
    }
}
