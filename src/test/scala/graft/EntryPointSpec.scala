package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Static guard for the engine's entry points: sessions are built only by
  * [[GraftSession]], so every main and the tests share one set of session
  * invariants, and the main set is closed — a new probe or tool becomes a
  * `tools.Cli` subcommand, not another main with its own session. */
class EntryPointSpec extends AnyFunSuite {

  private def sources(dir: String): Seq[(String, String)] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString.replace('\\', '/') ->
        new String(Files.readAllBytes(p), "UTF-8"))
      .toVector
    finally s.close()
  }

  test("only GraftSession.scala calls the SparkSession builder") {
    // split so this file does not match its own pattern
    val builder = ("SparkSession" + """\s*\.\s*builder\b""").r
    val sites = for {
      dir <- Seq("src/main/scala", "src/test/scala")
      (file, text) <- sources(dir)
      if builder.findFirstIn(text).isDefined
    } yield s"$dir/$file"
    assert(sites == Seq("src/main/scala/graft/GraftSession.scala"),
      "build sessions through GraftSession.builder or GraftSession.local")
  }

  test("src/main defines exactly the five mains") {
    val main = """def\s+main\s*\(""".r
    val obj = """\bobject\s+(\w+)""".r
    val mains = for {
      (file, text) <- sources("src/main/scala")
      m <- main.findAllMatchIn(text)
    } yield {
      val owner = obj.findAllMatchIn(text.take(m.start)).toSeq.lastOption
        .fold("?")(_.group(1))
      s"${file.stripSuffix(".scala").replace('/', '.')}:$owner"
    }
    assert(mains.sorted == Seq(
      "graft.Bench:Bench", "graft.ClusterFaultProbe:ClusterFaultProbe",
      "graft.ClusterVerify:ClusterVerify", "graft.Verify:Verify",
      "graft.tools.Cli:Cli"),
      "a new tool is a graft.tools.Cli subcommand, not another main")
  }
}
