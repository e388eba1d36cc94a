package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** The engine's one tool main: spot checks of declared queries on a
  * `GraftSession.local` session. Usage:
  * {{{
  *   runMain graft.tools.Cli run     <q,..> <sfDir>
  *   runMain graft.tools.Cli plan    <q,..> <sfDir> [outDir suffix]
  *   runMain graft.tools.Cli profile <q,..> <sfDir> [iters]
  *   runMain graft.tools.Cli oracle  <q>
  * }}}
  * Every result is materialized as the benchmark does, with the `noop`
  * sink: a `count()` lets Catalyst prune every column it does not need.
  * The subcommands take the session and never stop it; [[main]] alone
  * builds and stops one. */
object Cli {
  def main(args: Array[String]): Unit = args.toList match {
    case "oracle" :: name :: Nil => println(oracle(name))
    case "run" :: names :: sfDir :: Nil => withSession(run(_, names, sfDir))
    case "plan" :: names :: sfDir :: Nil =>
      withSession(plan(_, names, sfDir, None))
    case "plan" :: names :: sfDir :: outDir :: suffix :: Nil =>
      withSession(plan(_, names, sfDir, Some(Paths.get(outDir) -> suffix)))
    case "profile" :: names :: sfDir :: iters if iters.size <= 1 =>
      withSession(profile(_, names, sfDir, iters.headOption.fold(3)(_.toInt)))
    case _ =>
      System.err.println("usage: Cli run <q,..> <sfDir> | plan <q,..> " +
        "<sfDir> [outDir suffix] | profile <q,..> <sfDir> [iters] | oracle <q>")
      sys.exit(2)
  }

  private def withSession(f: SparkSession => Unit): Unit = {
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    try f(spark) finally spark.stop()
  }

  /** The named declared queries, all resolved before any of them runs. */
  private def queries(names: String): Seq[(String, (SparkSession, String) => DataFrame)] =
    names.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map(n =>
      n -> SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query '$n'")))

  /** Materialize `df` with the `noop` sink; returns its row count. */
  private def materialize(df: DataFrame): Long = {
    val rows = Observation("rows")
    df.observe(rows, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    rows.get("n").asInstanceOf[Long]
  }

  /** Each query's row count and first 20 rows. */
  def run(spark: SparkSession, names: String, sfDir: String): Unit =
    queries(names).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      println(s"RUN $name rows=${materialize(df)}")
      df.show(20, truncate = false)
    }

  /** Each query's formatted plan, after one warm run so session-built
    * fixtures and indexes exist: printed, or written to
    * `<outDir>/<query>_<suffix>.txt` when `out` is given. */
  def plan(spark: SparkSession, names: String, sfDir: String,
           out: Option[(Path, String)]): Unit =
    queries(names).foreach { case (name, fn) =>
      materialize(fn(spark, sfDir))
      val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      out match {
        case None => println(s"########## $name\n$txt")
        case Some((dir, suffix)) =>
          Files.createDirectories(dir)
          Files.writeString(dir.resolve(s"${name}_$suffix.txt"), txt)
          println(s"[plan] wrote ${name}_$suffix.txt")
      }
    }

  private case class Stage(name: String, ms: Long, tasks: Int,
                           shufR: Long, shufW: Long, input: Long)

  /** Each query warm, then `iters` timed runs: wall seconds, driver jobs
    * and stages per run, the 25 costliest stages (duration, tasks,
    * shuffle and input bytes) and every micro-batch's `durationMs` map
    * from both stream sessions — the part of a stream query's wall time
    * the stage listener cannot see. */
  def profile(spark: SparkSession, names: String, sfDir: String,
              iters: Int): Unit = {
    val stages = ArrayBuffer[Stage]()
    val batches = ArrayBuffer[String]()
    var jobs = 0
    val stageListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        synchronized {
          val si = sc.stageInfo
          val ms = (for (s <- si.submissionTime; c <- si.completionTime)
            yield c - s).getOrElse(-1L)
          val m = si.taskMetrics
          stages += Stage(si.name.takeWhile(_ != '\n'), ms, si.numTasks,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
        }
    }
    val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        synchronized {
          import scala.jdk.CollectionConverters._
          val p = e.progress
          val d = p.durationMs.asScala.toSeq.sortBy(-_._2.longValue)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          batches += f"batch ${p.batchId}%2d rows=${p.numInputRows}%-8d $d"
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    // declared stream queries run on one of the TWO dedicated stream
    // sessions (watermark-driven shapes on streamSession, arrival-driven
    // ones on streamSessionNoIdle): listen on both or the no-idle queries
    // report no batches
    val streamSessions = Seq(graft.streaming.StreamTwins.streamSession(spark),
      graft.streaming.StreamTwins.streamSessionNoIdle(spark))

    queries(names).foreach { case (name, fn) =>
      materialize(fn(spark, sfDir)) // warm: fixtures, JIT, page cache
      stageListener.synchronized { stages.clear(); jobs = 0 }
      streamListener.synchronized { batches.clear() }
      spark.sparkContext.addSparkListener(stageListener)
      streamSessions.foreach(_.streams.addListener(streamListener))
      val walls = try (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        materialize(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      } finally {
        Thread.sleep(300) // let the listener buses drain
        spark.sparkContext.removeSparkListener(stageListener)
        streamSessions.foreach(_.streams.removeListener(streamListener))
      }
      stageListener.synchronized {
        println(s"PROFILE $name walls=${walls.map(w => f"$w%.3f").mkString(",")} " +
          s"jobs=${jobs / iters}/iter stages=${stages.size / iters}/iter")
        stages.groupBy(_.name).toSeq.map { case (n, ss) =>
          (n, ss.map(_.ms).sum, ss.size, ss.map(_.tasks).sum,
            ss.map(_.shufR).sum, ss.map(_.shufW).sum, ss.map(_.input).sum)
        }.sortBy(-_._2).take(25).foreach { case (n, ms, cnt, tasks, sr, sw, in) =>
          println(f"  $ms%6d ms  x$cnt%-3d tasks=$tasks%-5d " +
            f"shufR=${sr / 1024}%7d KB shufW=${sw / 1024}%7d KB " +
            f"in=${in / 1024}%7d KB  $n%s")
        }
      }
      streamListener.synchronized(batches.foreach(b => println(s"  $b")))
    }
  }

  /** One declared oracle's SQL. */
  def oracle(name: String): String =
    SparkEntry.oracleSql.getOrElse(name,
      throw new IllegalArgumentException(s"no oracle for '$name'"))
}
