package graft

import org.scalatest.funsuite.AnyFunSuite

/** `tools.Cli` subcommands on the shared test session: they print what
  * they promise, reject unknown names before running anything, and never
  * stop a session they did not build. `Verify.run` rejects unknown names
  * the same way. */
class CliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val q = "ts_parse_iso"

  private def out(f: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(f)
    buf.toString("UTF-8")
  }

  test("run prints the declared result's row count and first rows") {
    val n = SparkEntry.queries(q)(spark, sf).count()
    val text = out(tools.Cli.run(spark, q, sf))
    assert(text.contains(s"RUN $q rows=$n"))
    assert(text.contains("+---"), "the first rows are shown as a table")
    assert(!spark.sparkContext.isStopped)
  }

  test("plan prints the formatted plan, or writes it to outDir") {
    assert(out(tools.Cli.plan(spark, q, sf, None))
      .contains(s"########## $q\n== Physical Plan =="))
    val dir = java.nio.file.Paths.get(ops.TempFiles.dir("cli_plan"))
    out(tools.Cli.plan(spark, q, sf, Some(dir -> "t")))
    assert(java.nio.file.Files.readString(dir.resolve(s"${q}_t.txt"))
      .startsWith("== Physical Plan =="))
    assert(!spark.sparkContext.isStopped)
  }

  test("profile prints wall times and per-run jobs") {
    assert(out(tools.Cli.profile(spark, q, sf, 1))
      .contains(s"PROFILE $q walls="))
    assert(!spark.sparkContext.isStopped)
  }

  test("oracle returns the declared oracle's SQL") {
    assert(tools.Cli.oracle(q) == SparkEntry.oracleSql(q))
  }

  test("an unknown query name fails with the name, before any query runs") {
    val buf = new java.io.ByteArrayOutputStream()
    val e = intercept[IllegalArgumentException](
      Console.withOut(buf)(tools.Cli.run(spark, s"$q,no_such_query", sf)))
    assert(e.getMessage.contains("no_such_query"))
    assert(buf.size == 0, s"$q ran before the unknown name was rejected")
    assert(intercept[IllegalArgumentException](tools.Cli.oracle("no_such_query"))
      .getMessage.contains("no_such_query"))
  }

  test("Verify.run fails on every unknown name before any query is dumped") {
    val dir = java.nio.file.Paths.get(ops.TempFiles.dir("verify_unknown"))
    // a dump left behind by an earlier run must not read as this run's
    org.apache.commons.io.FileUtils.cleanDirectory(dir.toFile)
    val e = intercept[IllegalArgumentException](
      Verify.run(spark, sf, dir.toString, Some(Set(q, "no_such_a", "no_such_b"))))
    assert(e.getMessage.contains("no_such_a") && e.getMessage.contains("no_such_b"))
    assert(!e.getMessage.contains(q), e.getMessage)
    assert(!java.nio.file.Files.exists(dir.resolve(q)), s"$q was dumped")
  }
}
