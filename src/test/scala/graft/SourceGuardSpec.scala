package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Fixed-cost budget, held at the source: every Parquet read in
  * `src/main` resolves its schema on the driver ([[graft.io.Parquet]])
  * instead of launching Spark's one-task inference job, and bounded
  * streaming replays size their state from their input
  * ([[graft.streaming.StreamOps.runBounded]]) instead of carrying a
  * fixed instance count. Either regression costs tens of milliseconds
  * to seconds per call and changes no result, so only this check sees it.
  * The same scan keeps every session on the one engine config
  * ([[graft.Sessions]]), in the tests as well as the program.
  */
class SourceGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val testRoot = Paths.get("src/test/scala")

  /** Reads that must keep Spark's inference, by file and enclosing
    * method: `mergeSchema` touches every file's footer, which is what
    * Spark's distributed job is for.
    */
  private val mergeSchemaReads = Set(
    "graft/io/TxLog.scala" -> "readMerged",
    "graft/queries/Pipe.scala" -> "q90")

  /** The helper itself is the one place a schema-less read may live. */
  private val helper = "graft/io/Parquet.scala"

  /** (file relative to `dir`, code with comments blanked). */
  private def scan(dir: Path): Seq[(String, String)] = {
    val files = Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.map(p => dir.relativize(p).toString -> code(p)).sortBy(_._1)
  }

  private lazy val sources: Seq[(String, String)] = scan(root)

  /** Source text with comments replaced by spaces (offsets kept);
    * string literals are skipped, so a glob path opens no comment.
    */
  private def code(p: Path): String = {
    val s = new String(Files.readAllBytes(p), "UTF-8")
    val out = s.toCharArray
    def blank(from: Int, to: Int): Unit =
      (from until to).foreach(k => if (out(k) != '\n') out(k) = ' ')
    var i = 0
    while (i < s.length) {
      if (s.startsWith("\"\"\"", i)) {
        val end = s.indexOf("\"\"\"", i + 3)
        i = if (end < 0) s.length else end + 3
      } else if (s(i) == '"') {
        var j = i + 1
        while (j < s.length && s(j) != '"' && s(j) != '\n')
          j += (if (s(j) == '\\') 2 else 1)
        i = j + 1
      } else if (s.startsWith("'\"'", i)) {
        i += 3
      } else if (s.startsWith("//", i)) {
        val end = s.indexOf('\n', i)
        val to = if (end < 0) s.length else end
        blank(i, to); i = to
      } else if (s.startsWith("/*", i)) {
        var depth = 0; var j = i
        do {
          if (s.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (s.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        } while (depth > 0 && j < s.length)
        blank(i, j); i = j
      } else i += 1
    }
    new String(out)
  }

  /** A batch Parquet read without a user schema: `.read`, any
    * `.option(...)` calls, then `.parquet(`.
    */
  private val schemaLessRead =
    """\.read(\s*\.\s*option\([^()]*\))*\s*\.\s*parquet\(""".r

  private def enclosingDef(src: String, at: Int): String =
    """\bdef\s+(\w+)""".r.findAllMatchIn(src.substring(0, at))
      .map(_.group(1)).toSeq.lastOption.getOrElse("<top>")

  private lazy val rawReads: Seq[(String, String)] = sources.flatMap {
    case (file, src) =>
      schemaLessRead.findAllMatchIn(src).map(m =>
        file -> enclosingDef(src, m.start)).toSeq
  }

  test("no schema-less read.parquet outside graft.io.Parquet") {
    val offenders = rawReads.filterNot { case (f, d) =>
      f == helper || mergeSchemaReads((f, d))
    }
    assert(offenders.isEmpty,
      "route these through graft.io.Parquet.read: " + offenders.mkString(", "))
  }

  test("the exempt mergeSchema reads still exist") {
    assert(mergeSchemaReads.subsetOf(rawReads.toSet),
      s"stale exemptions: ${mergeSchemaReads -- rawReads.toSet}")
    assert(rawReads.exists(_._1 == helper))
  }

  test("no fixed state-store instance count in src/main") {
    val offenders = sources.collect {
      case (f, src) if """\b(withStatePartitions|statePartitions)\b""".r
        .findFirstIn(src).isDefined => f
    }
    assert(offenders.isEmpty,
      "size streaming state with StreamOps.runBounded: " +
        offenders.mkString(", "))
  }

  test("graft.Sessions is the only session builder in src/main and src/test") {
    val builder = """\bSparkSession\s*\.\s*builder\b""".r
    val scanned = sources.filterNot(_._1 == "graft/Sessions.scala") ++
      scan(testRoot)
    val offenders = scanned.collect {
      case (f, src) if builder.findFirstIn(src).isDefined => f
    }
    assert(offenders.isEmpty,
      "build sessions with graft.Sessions.builder: " + offenders.mkString(", "))
  }
}
