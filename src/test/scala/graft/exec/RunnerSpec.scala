package graft.exec

import graft.TestSpark
import graft.model.ManifestParser
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class RunnerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("manifest end-to-end: read -> project -> token -> melt -> parquet") {
    val root = Files.createTempDirectory("graft-run")
    val data = root.resolve("data")
    for (g <- Seq("G1", "G2")) {
      val d = data.resolve("m").resolve(g)
      Files.createDirectories(d)
      Files.write(d.resolve("s.txt"),
        s"sgrna\tscore\tlfc\nr1\t0.5\t-1.0\nr2\t0.7\t2.0\n".getBytes)
    }
    val manifest = ManifestParser.parse(
      """{"dsv":[{"source":"$data_directory/m/[GENE]/s.txt",
        |"target":"out.parquet",
        |"tokens":[{"token":"[GENE]","name":"gene"}],
        |"kwargs":{"read":{"sep":"\t"},
        |  "melt":{"key":{"name":"metric"},"value":{"name":"value"},
        |          "columns":["score","lfc"]}},
        |"cols":[{"col":"sgrna"},{"col":"score"},{"col":"lfc"}]}]}""".stripMargin)
    val out = root.resolve("out").toString
    Runner.run(spark, manifest, data.toString, out)
    val back = spark.read.parquet(s"$out/out.parquet")
    assert(back.columns.toSeq == Seq("sgrna", "gene", "metric", "value"))
    assert(back.count() == 8) // 2 files x 2 rows x 2 melted cols
    assert(back.select("gene").distinct().count() == 2)
  }

  test("a variable-file group whose files spell the header differently stays numeric") {
    val root = Files.createTempDirectory("graft-run-case")
    val data = root.resolve("data")
    for ((g, header) <- Seq("G1" -> "sgrna\tscore\tlfc",
                            "G2" -> "SGRNA\tSCORE\tLFC")) {
      val d = data.resolve("m").resolve(g)
      Files.createDirectories(d)
      Files.write(d.resolve("s.txt"),
        s"$header\nr1\t0.5\t-1.0\nr2\t0.7\t2\n".getBytes)
    }
    val manifest = ManifestParser.parse(
      """{"dsv":[{"source":"$data_directory/m/[GENE]/s.txt",
        |"target":"out.parquet",
        |"tokens":[{"token":"[GENE]","name":"gene"}],
        |"cols":[{"col":"sgrna"},{"col":"score"},{"col":"lfc"}]}]}""".stripMargin)
    val out = root.resolve("out").toString
    Runner.run(spark, manifest, data.toString, out)
    val back = spark.read.parquet(s"$out/out.parquet")
    assert(back.schema("score").dataType.typeName == "double")
    assert(back.schema("lfc").dataType.typeName == "double")
    assert(back.count() == 4)
  }

  test("json and parquet sources run through the same manifest pipeline") {
    val root = Files.createTempDirectory("graft-fmt")
    val data = root.resolve("data")
    Files.createDirectories(data)
    Files.write(data.resolve("j.json"),
      "{\"id\":1,\"v\":2.5}\n{\"id\":2,\"v\":3.5}\n".getBytes)
    import spark.implicits._
    Seq((10L, "p")).toDF("id", "s")
      .write.mode("overwrite").parquet(data.resolve("p.parquet").toString)
    val m = ManifestParser.parse(
      """[{"source":"data/j.json","target":"j.parquet","where":"id > 1"},
        | {"source":"data/p.parquet","target":"p2.parquet"}]""".stripMargin)
    val out = root.resolve("out").toString
    Runner.run(spark, m, data.toString, out)
    assert(spark.read.parquet(s"$out/j.parquet").count() == 1)
    assert(spark.read.parquet(s"$out/p2.parquet").head.getString(1) == "p")
  }

  test("where predicate filters rows") {
    val root = Files.createTempDirectory("graft-run2")
    val data = root.resolve("data")
    Files.createDirectories(data)
    Files.write(data.resolve("t.csv"), "a,b\n1,2\n5,6\n".getBytes)
    val m = ManifestParser.parse(
      """[{"source":"data/t.csv","target":"t.parquet","where":"a > 2"}]""")
    val df = Runner.plan(spark, m.commands.head, data.toString)
    assert(df.count() == 1)
  }
}

class StreamOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import graft.streaming.StreamOps
  import spark.implicits._
  import java.sql.Timestamp

  private def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

  test("session windows split at gaps >= 30 minutes") {
    val df = Seq(
      (1L, ts(0), 1.0), (1L, ts(10), 1.0), (1L, ts(45), 1.0),
      (2L, ts(0), 1.0))
      .toDF("user_id", "ts", "value")
    val out = StreamOps.sessionCounts(df, "ts", "user_id").collect()
    // user 1: {10:00,10:10} then {10:45}; user 2: one session
    assert(out.length == 3)
    val u1 = out.filter(_.getLong(2) == 1L).sortBy(_.getTimestamp(0).getTime)
    assert(u1(0).getLong(3) == 2 && u1(1).getLong(3) == 1)
    // end = last event + gap
    assert(u1(0).getTimestamp(1) == Timestamp.valueOf("2024-01-01 10:40:00"))
  }

  test("streaming tumbling counts equal batch date_trunc counts") {
    val dir = Files.createTempDirectory("graft-st").toString
    Seq((1L, ts(5), 2.0), (1L, ts(20), 3.0), (2L, ts(59), 4.0))
      .toDF("user_id", "ts", "value")
      .write.mode("overwrite").parquet(dir)
    val out = StreamOps.streamTumblingCounts(spark, dir, "ts", "user_id",
      "1 hour", "1 hour", "test_stream").collect()
    assert(out.length == 2)
    assert(out.find(_.getLong(1) == 1L).get.getLong(2) == 2)
  }
}
