package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guards the entry-point surface. The set of runnable mains and the one
  * session builder are fixed lists, so a new dev main or another copy
  * of the session configuration becomes a deliberate edit here instead
  * of silent regrowth. Sources are scanned with comments stripped, so
  * scaladoc usage examples do not count.
  */
class EntryPointsSpec extends AnyFunSuite {

  /** The benchmark and the oracle dump (Bench, Verify), the query timer
    * and plan dump, the staged-store GC, and the scale protocol mains.
    */
  private val keptMains = Set(
    "Bench", "Verify", "TimeQ", "PruneStates", "ProfilePlanDumpAll",
    "ProfileScale", "ProfileIncScale", "ProfileCuration")

  private val mainRoot = Paths.get("src/main/scala")

  /** `root`-relative path → source with block and line comments removed. */
  private def sources(root: Path): Map[String, String] = {
    val files = Files.walk(root)
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        val code = new String(Files.readAllBytes(p), "UTF-8")
          .replaceAll("(?s)/\\*.*?\\*/", "")
          .replaceAll("//[^\n]*", "")
        root.relativize(p).toString -> code
      }.toMap
    finally files.close()
  }

  test("the objects declaring a main are exactly the kept entry points") {
    val objDecl = """\bobject\s+(\w+)""".r
    val mains = sources(mainRoot).values.flatMap { code =>
      """\bdef\s+main\s*\(""".r.findAllMatchIn(code).map { m =>
        objDecl.findAllMatchIn(code.take(m.start)).toSeq.last.group(1)
      }
    }.toSet
    assert(mains == keptMains,
      s"added: ${mains -- keptMains}; removed: ${keptMains -- mains}")
  }

  test("session builders are created only in GraftSession") {
    val builderCall = """SparkSession\s*\.\s*builder\b""".r
    val callers = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      sources(Paths.get(root)).collect {
        case (f, code) if builderCall.findFirstIn(code).nonEmpty => s"$root/$f"
      }
    }
    assert(callers == Seq("src/main/scala/graft/GraftSession.scala"),
      s"session builder copies: $callers")
  }
}
