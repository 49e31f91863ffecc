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

  /** Line numbers of the `var`s declared directly in an `object` body
    * (process-global mutable state) in comment-stripped `code`. String
    * and char literals are blanked first so their braces do not count;
    * a brace opens an object body when the text since the previous
    * brace or semicolon declares an object.
    */
  private def objectLevelVars(code: String): Seq[Int] = {
    val blanked = code
      .replaceAll("(?s)\"\"\".*?\"\"\"", "\"\"")
      .replaceAll("\"(?:[^\"\\\\\n]|\\\\.)*\"", "\"\"")
      .replaceAll("'(?:[^'\\\\\n]|\\\\.)'", "' '")
    val objectHeader = """\bobject\s+\w+""".r
    var inObject = List.empty[Boolean]
    var headerStart = 0
    """\bvar\b|[{};]""".r.findAllMatchIn(blanked).flatMap { m =>
      m.matched match {
        case "{" =>
          inObject = objectHeader
            .findFirstIn(blanked.substring(headerStart, m.start))
            .nonEmpty :: inObject
          headerStart = m.end
          None
        case "}" =>
          inObject = inObject.drop(1)
          headerStart = m.end
          None
        case ";" =>
          headerStart = m.end
          None
        case _ =>
          if (inObject.headOption.contains(true))
            Some(blanked.take(m.start).count(_ == '\n') + 1)
          else None
      }
    }.toSeq
  }

  test("operators hold no process-global mutable state") {
    // the detector itself: an object-level slot is found, while locals,
    // anonymous-class fields and braces inside strings are not
    val probe =
      "object O {\n  private var slot: Option[Int] = None\n" +
      "  def f = { var i = 0; new Iterator[Int] { var j = 0 }; i }\n" +
      "  val s = \"} {\"\n  var t = 1\n}\nclass C { var k = 0 }\n"
    assert(objectLevelVars(probe) == Seq(2, 5))
    val found = sources(Paths.get("src/main/scala/graft/operators"))
      .toSeq.sortBy(_._1).flatMap { case (f, code) =>
        objectLevelVars(code).map(l => s"$f:$l var") ++
          (if ("""\bsynchronized\b""".r.findFirstIn(code).nonEmpty)
             Seq(s"$f synchronized") else Nil)
      }
    assert(found.isEmpty,
      s"object-level var or synchronized under graft/operators: $found")
  }

  /** The store idioms that `graft.store` replaced, found in
    * comment-stripped `code`: a filesystem rename (the delete-then-rename
    * swap), the stamp-scan helper, a stamp-column literal, and a raw
    * append into a live directory. */
  private def storeIdioms(code: String): Seq[String] =
    ("""\.rename\s*\(""".r.findAllIn(code).map(_ => "rename") ++
      """\bStoreStamp\b""".r.findAllIn(code) ++
      "\"(sig_store|sig_family|\\w+_format)\"".r.findAllMatchIn(code).map(_.group(1)) ++
      """\.mode\s*\(\s*"append"\s*\)""".r.findAllIn(code).map(_ => "append")).toSeq

  test("stores commit through graft.store: no swaps or stamp columns in operators") {
    // the detector itself: each replaced idiom is found, while
    // lookalike names are not
    val probe =
      "object O {\n  fs.rename(tmp, hp)\n  StoreStamp.distinctVals(df, c)\n" +
      "  df.withColumn(\"index_format\", s)\n  df.drop(\"sig_store\")\n" +
      "  df.drop(\"model_format\")\n  sigs.select(\"sig_family\")\n" +
      "  df.write.mode(\"append\").parquet(p)\n  sigStoreStamp(5, 64)\n" +
      "  df.write.mode(\"overwrite\").parquet(p)\n" +
      "  date_format(col(\"ts\"), \"yyyy\")\n}\n"
    assert(storeIdioms(probe) == Seq("rename", "StoreStamp", "index_format",
      "sig_store", "model_format", "sig_family", "append"))
    val found = sources(Paths.get("src/main/scala/graft/operators"))
      .toSeq.sortBy(_._1).flatMap { case (f, code) =>
        storeIdioms(code).map(i => s"$f: $i")
      }
    assert(found.isEmpty, s"hand-rolled store idioms under graft/operators: $found")
  }

  /** The hand-rolled materializations that `Lineage.scoped` replaced,
    * found in comment-stripped `code`: a persist on anything but the
    * scope (call sites name their `Lineage.Scope` `scope`), a cache, an
    * unpersist, and a `createDataFrame` call whose arguments read an
    * `.rdd` (the LogicalRDD round-trip). */
  private def materializationIdioms(code: String): Seq[String] = {
    val roundTrips = """\bcreateDataFrame\s*\(""".r.findAllMatchIn(code)
      .filter { m =>
        // the call's arguments: up to the parenthesis that closes it
        var depth = 1
        var i = m.end
        while (depth > 0 && i < code.length) {
          if (code(i) == '(') depth += 1 else if (code(i) == ')') depth -= 1
          i += 1
        }
        """\.rdd\b""".r.findFirstIn(code.substring(m.end, i)).nonEmpty
      }.map(_ => "createDataFrame(.rdd)")
    ("""(?<!\bscope)\.persist\s*\(""".r.findAllIn(code).map(_ => "persist") ++
      """\.cache\s*\(""".r.findAllIn(code).map(_ => "cache") ++
      """\.unpersist\s*\(""".r.findAllIn(code).map(_ => "unpersist") ++
      roundTrips).toSeq
  }

  /** The one cache taken under graft/operators or graft/queries: the
    * dashboard's interactive snapshot, which its caller unpersists. */
  private val keptCaches = Set("operators/Dashboard.scala: cache")

  test("operators and queries materialize through Lineage.scoped or a checkpoint") {
    // the detector itself: each replaced idiom is found, including a
    // round-trip whose `.rdd` sits in a nested call, while lookalike
    // calls are not
    val probe =
      "object O {\n  df.persist(lvl)\n  w.unpersist(blocking = false)\n" +
      "  spark.createDataFrame(df.rdd, df.schema)\n" +
      "  spark.createDataFrame(\n    base.select(col(\"s\")).rdd, schema)\n" +
      "  spark.createDataFrame(java.util.List.of(Row(1)), schema)\n" +
      "  scope.persist(df)\n  spark.createDataFrame(df.rddLike, schema)\n" +
      "  df.coalesce(1).cache()\n  Dashboard.cached(df)\n" +
      "  spark.catalog.cacheTable(t)\n}\n"
    assert(materializationIdioms(probe) == Seq("persist", "cache", "unpersist",
      "createDataFrame(.rdd)", "createDataFrame(.rdd)"))
    val found = Seq("operators", "queries").flatMap { pkg =>
      sources(Paths.get(s"src/main/scala/graft/$pkg"))
        .toSeq.sortBy(_._1).flatMap { case (f, code) =>
          materializationIdioms(code).map(i => s"$pkg/$f: $i")
        }
    }.filterNot(keptCaches)
    assert(found.isEmpty,
      s"hand-rolled materializations under graft/operators or graft/queries: $found")
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
