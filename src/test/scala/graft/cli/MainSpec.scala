package graft.cli

import com.fasterxml.jackson.databind.ObjectMapper
import graft.TestSpark
import graft.io.TxLog
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}

/** The CLI's argument parsing and its machine-readable output, driven
  * through `Main.main` on verbs that need no Spark session of their own
  * (`annotate` works on the driver; `table tag`/`tags` only touch table
  * metadata).
  */
class MainSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  /** One-file dataset plus an empty fields catalog, so every column is
    * new and `annotate` has entries to write back.
    */
  private def dataset(): Path = {
    val root = Files.createTempDirectory("graft-cli")
    Files.createDirectories(root.resolve("data"))
    Files.writeString(root.resolve("data/t.txt"), "alpha\tbeta\n1\t2\n3\t4\n")
    Files.writeString(root.resolve("fields.json"), "[]")
    root
  }

  private def stdout(args: String*): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(Main.main(args.toArray))
    buf.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty)
  }

  test("a bare flag mid-line does not swallow the next flag") {
    val root = dataset()
    val fields = root.resolve("fields.json")
    val out = root.resolve("m.json")
    stdout("annotate", "--input", root.toString, "--write-back",
      "--fields", fields.toString, "--out", out.toString)
    assert(Files.exists(out), "--out was lost")
    assert(!Files.exists(root.resolve("manifest.json")))
    // --fields was read and --write-back is on: the catalog gained the
    // dataset's columns
    val cat = Files.readString(fields)
    assert(cat.contains("alpha") && cat.contains("beta"), cat)
  }

  test("a boolean flag set to false is off") {
    val root = dataset()
    val fields = root.resolve("fields.json")
    val out = root.resolve("m.json")
    stdout("annotate", "--input", root.toString, "--fields", fields.toString,
      "--out", out.toString, "--write-back", "false")
    assert(Files.exists(out))
    assert(Files.readString(fields) == "[]", "--write-back false wrote back")
    // and the explicit `true` spelling is on
    stdout("annotate", "--input", root.toString, "--fields", fields.toString,
      "--out", out.toString, "--write-back", "true")
    assert(Files.readString(fields).contains("alpha"))
  }

  test("parseArgs reads bare flags as true wherever they stand") {
    val opts = Main.parseArgs(Seq("--single-file", "--in", "x", "--approx",
      "--keys", "false"))
    assert(opts == Map("single-file" -> "true", "in" -> "x",
      "approx" -> "true", "keys" -> "false"))
    assert(Main.flag(opts, "single-file") && Main.flag(opts, "approx"))
    assert(!Main.flag(opts, "keys") && !Main.flag(opts, "absent"))
  }

  test("table tag and tags print valid JSON for a tag name with a quote") {
    val spark = TestSpark.spark
    import spark.implicits._
    val t = Files.createTempDirectory("graft-cli-table").resolve("t").toString
    val v = TxLog.commit(spark, t, Seq(1L, 2L).toDF("k"), 1)
    val tag = "rel \"1\" \\ final"
    val created = stdout("table", "tag", "--table", t, "--name", tag)
    assert(created.size == 1)
    val node = mapper.readTree(created.head)
    assert(node.get("tag").asText == tag)
    assert(node.get("version").asInt == v)
    val listed = stdout("table", "tags", "--table", t).map(mapper.readTree)
    assert(listed.map(n => (n.get("tag").asText, n.get("version").asInt)) ==
      Seq((tag, v)))
    assert(!spark.sparkContext.isStopped)
  }
}
