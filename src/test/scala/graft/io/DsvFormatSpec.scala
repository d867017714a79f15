package graft.io

import com.univocity.parsers.csv.CsvParser
import graft.TestSpark
import org.apache.hadoop.io.Text
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.Random

/** [[DsvFormat]] must read what Spark's CSV source reads: the same
  * tokens per line, the same type per cell, and through [[DsvReader]]
  * the same schema and rows, in one inference job.
  */
class DsvFormatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val seps = Seq("\t", ",", ";", "|")

  private def csvOptions(sep: String): CSVOptions =
    new CSVOptions(DsvReader.options(sep, header = true), true, "UTC")

  // ------------------------------------------------------------ tokens

  /** Random line over separators, quotes, escapes, CR, spaces, NA,
    * non-ASCII and NUL.
    */
  private def randomLine(rnd: Random, quotes: Boolean): String = {
    val pieces = Array("a", "Zz", "0", "17", "-3.5", ".", " ", "  ", "\\",
      "\r", "NA", "NaN", "é", "λ", "日本", "\u0000", "\t", ",", ";", "|")
    val all = if (quotes) pieces ++ Array("\"", "\"\"") else pieces
    Iterator.fill(1 + rnd.nextInt(14))(all(rnd.nextInt(all.length))).mkString
  }

  test("a terminated quote-free line gives the tokens of the line itself") {
    val rnd = new Random(20261020L)
    for (sep <- seps) {
      val o = csvOptions(sep)
      val lines = new DsvFormat.Lines(o)
      val reference = new CsvParser(o.asParserSettings)
      val parser = new CsvParser(o.asParserSettings)
      val fixed = Seq("a,\"b", "\"a,b\",c", "x\"y,z", "\"\"", "a,\"\"\"b\"",
        "a,\"b\nc\"", "\"unclosed", "a,b,", ",", "a\\,b", "\\\"a\\\",b")
        .map(_.replace(",", sep))
      val random = Seq.fill(20000)(randomLine(rnd, quotes = rnd.nextInt(4) == 0))
      var terminated = 0
      for (line <- fixed ++ random if line.trim.nonEmpty) {
        val decoded = lines.terminated(new Text(line))
        if (decoded != line) {
          assert(decoded == line + "\n" && !line.contains('"'))
          terminated += 1
        }
        assert(parser.parseLine(decoded).toSeq ==
          reference.parseLine(line).toSeq,
          s"sep ${sep.head.toInt}: ${line.map(_.toInt).mkString(" ")}")
      }
      assert(terminated > 10000, s"only $terminated lines terminated")
    }
  }

  // ------------------------------------------------------------- types

  private val startTypes: Seq[DataType] = Seq(NullType, IntegerType,
    LongType, DecimalType(20, 0), DoubleType, DateType, TimestampNTZType,
    TimestampType, BooleanType, StringType)

  /** Boundary tokens of every fast case and of the types around them. */
  private val fixedTokens: Seq[String] = Seq("", "NA", "NaN", "nan",
    "Infinity", "-Infinity", "+Infinity", "Inf", "0", "-0", "+0", "7", "-7",
    "+7", "-", "+", "+-1", "00", "007", "000000001", "0000000001",
    "123456789", "-123456789", "+123456789", "999999999", "1234567890",
    "-1234567890", "2147483647", "2147483648", "-2147483648",
    "-2147483649", "9999999999", "99999999999999999999", "1.", ".5", "-.5",
    "1.5", "-1.5", "+1.5", "0.05", "00.50", "1.5.5", "1..5", "1e3", "1E-3",
    "1.5e10", "-2.5E+3", "1d", "1f", "1L", "0x1F", "1_000", "١٢٣", "１２３",
    "²", " 5", "5 ", " 1.5", "1.5 ", "1995-03-13", "2001-06-07",
    "2001-06-07 00:00:00.000000", "2020-01-01T12:00:00Z",
    "2020-01-01 12:00:00", "13/03/1995", "true", "false", "TRUE", "False",
    "yes", "abc", "N/A", "null",
    "123456789012345678901234567890123456789012345678901.5",
    "1.000000000000000000000000000000000000000000000000001")

  private def randomToken(rnd: Random): String = {
    val digits = Iterator.fill(rnd.nextInt(12))(('0' + rnd.nextInt(10)).toChar)
      .mkString
    val sign = Seq("", "", "", "-", "+")(rnd.nextInt(5))
    val frac = if (rnd.nextInt(3) == 0)
      "." + Iterator.fill(rnd.nextInt(4))(('0' + rnd.nextInt(10)).toChar)
        .mkString else ""
    val exp = if (rnd.nextInt(8) == 0) "e" + rnd.nextInt(400) else ""
    val junk = if (rnd.nextInt(10) == 0)
      Seq(" ", "x", "é", "-", ".", "NA")(rnd.nextInt(6)) else ""
    val s = sign + digits + frac + exp
    if (rnd.nextBoolean()) s + junk else junk + s
  }

  test("the byte fold types each cell as inferField does, from every start type") {
    val o = csvOptions("\t")
    val infer = new CSVInferSchema(o)
    val rnd = new Random(7L)
    val tokens = fixedTokens ++ Seq.fill(30000)(randomToken(rnd))
    for (start <- startTypes; token <- tokens) {
      val fold = new DsvFormat.TypeFold(o, Array[DataType](start))
      val bytes = token.getBytes(UTF_8)
      fold.foldLine(bytes, bytes.length)
      // univocity gives the nullValue for an empty unquoted cell
      val cell = if (token.isEmpty) o.nullValue else token
      assert(fold.types(0) == infer.inferField(start, cell),
        s"$start <- '$token'")
    }
  }

  test("the byte fold of whole lines equals inferRowType over their tokens") {
    val rnd = new Random(41L)
    for (sep <- seps) {
      val o = csvOptions(sep)
      val infer = new CSVInferSchema(o)
      val tokenizer = new CsvParser(o.asParserSettings)
      for (_ <- 1 to 3000) {
        val width = 1 + rnd.nextInt(5)
        val start = Array.fill[DataType](width)(
          startTypes(rnd.nextInt(startTypes.length)))
        val cells = Seq.fill(rnd.nextInt(width + 2))(
          if (rnd.nextInt(6) == 0) fixedTokens(rnd.nextInt(fixedTokens.length))
          else randomToken(rnd))
        val line = (if (rnd.nextInt(10) == 0) "\"q\"" +: cells else cells)
          .mkString(sep)
        if (line.trim.nonEmpty) {
          val fold = new DsvFormat.TypeFold(o, start.clone())
          val bytes = line.getBytes(UTF_8)
          fold.foldLine(bytes, bytes.length)
          val want = infer.inferRowType(start.clone(),
            tokenizer.parseLine(line))
          assert(fold.types.toSeq == want.toSeq, s"$line from ${start.toSeq}")
        }
      }
    }
  }

  // ------------------------------------------------- reads, jobs, tasks

  /** Spark's CSV source with the options of [[DsvReader.read]]. */
  private def sparkRead(path: String): DataFrame = {
    val sample = Sniffer.firstMatchingFile(path).getOrElse(path)
    DsvReader.clean(spark.read
      .options(DsvReader.options(Sniffer.sniffSep(sample), header = true))
      .option("inferSchema", "true").csv(path))
  }

  private def assertSameAsSpark(path: String): Unit = {
    val got = DsvReader.read(spark, path)
    val want = sparkRead(path)
    assert(got.schema == want.schema, path)
    assert(got.exceptAll(want).isEmpty, path)
    assert(want.exceptAll(got).isEmpty, path)
  }

  private def dir(prefix: String): Path = Files.createTempDirectory(prefix)

  private def write(p: Path, content: String): String = {
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(UTF_8))
    p.toString
  }

  private def gzip(p: Path, content: String): String = {
    Files.createDirectories(p.getParent)
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
    try out.write(content.getBytes(UTF_8)) finally out.close()
    p.toString
  }

  /** (jobs, tasks) Spark started while `f` runs, between two marker
    * jobs (the bus delivers events in order). Spark's parallel file
    * listing (a glob of more than 32 files) is not counted: it is the
    * same job whatever reads the files.
    */
  private def jobsDuring[T](f: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[(String, Int)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("") -> e.stageInfos.map(_.numTasks).sum)
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.asScala.exists(_._1 == name) &&
        System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(_._1 == name), s"listener never saw $name")
    }
    sc.addSparkListener(listener)
    try {
      marker("open")
      seen.clear()
      val out = f
      marker("close")
      val jobs = seen.asScala.toSeq.filterNot { case (d, _) =>
        d == "close" || d.startsWith("Listing leaf files") }
      (out, jobs.size, jobs.map(_._2).sum)
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `f` with small split sizes, so a few hundred KB split. */
  private def withSmallSplits[T](f: => T): T = {
    val keys = Seq("spark.sql.files.maxPartitionBytes" -> "65536",
      "spark.sql.files.openCostInBytes" -> "8192")
    val old = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def lineitemRows(rnd: Random, n: Int): String =
    (1 to n).map { _ =>
      Seq(rnd.nextInt(150000), rnd.nextInt(20000), rnd.nextInt(1000),
        1 + rnd.nextInt(7), 1 + rnd.nextInt(50),
        f"${900 + rnd.nextDouble() * 104100}%.2f",
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)),
        f"199${rnd.nextInt(10)}-0${1 + rnd.nextInt(9)}-1${rnd.nextInt(10)}" +
          " 00:00:00.000000").mkString("\t")
    }.mkString("", "\n", "\n")

  private val lineitemHeader = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate").mkString("\t") + "\n"

  test("DsvReader.read equals Spark's CSV read on the repo's DSV inputs") {
    // the DSVs graft's own query fixtures leave under benchdata/ (written
    // by earlier query runs; absent in a fresh checkout)
    val bench = Paths.get("benchdata")
    val found =
      if (!Files.isDirectory(bench)) Seq.empty
      else Files.walk(bench).iterator().asScala.map(_.toString)
        .filter(p => Seq(".tsv", ".csv", ".txt").exists(p.endsWith))
        .toSeq.sorted
    found.foreach(assertSameAsSpark)
    found.map(p => Paths.get(p).getParent.toString).distinct
      .foreach(d => assertSameAsSpark(s"$d/*"))
  }

  test("DsvReader.read equals Spark's CSV read on the ingest benchmark's inputs") {
    val root = dir("graft-ingest")
    val gen = new ProcessBuilder("python3", "-c",
      s"import sys; sys.path.insert(0, 'perfbench'); import gen; " +
        s"gen.gen_ingest('$root', 7)").inheritIO().start()
    assert(gen.waitFor() == 0, "perfbench/gen.py failed")
    assertSameAsSpark(s"$root/tsv/*.tsv")
    assertSameAsSpark(s"$root/warm/*.tsv")
    // the manifest probe's MAGeCK files, one by one (a glob of them may
    // spell the header differently per file: there the types differ on
    // purpose, see DsvReaderSpec)
    Files.walk(root.resolve("manifest/data")).iterator().asScala
      .filter(Files.isRegularFile(_)).map(_.toString).toSeq.sorted
      .foreach(assertSameAsSpark)
  }

  test("DsvReader.read equals Spark's CSV read on edge-case inputs") {
    val d = dir("graft-dsv-edge")
    val cases = Seq(
      write(d.resolve("quoted/q.csv"), "id,desc,n\n1,\"a, b\",2\n" +
        "2,\"line\nbreak\",3\n3,\"say \"\"hi\"\"\",4\n4,plain,5\n"),
      write(d.resolve("crlf/c.csv"), "a,b\r\n1,2.5\r\n3,4\r\n"),
      write(d.resolve("na/n.tsv"), "a\tb\tc\n1\tNA\tNaN\nNA\t2.5\t\n" +
        "3\t\tNaN\n"),
      write(d.resolve("ragged/r.csv"), "a,b,c\n1,2\n3,4,5,6\n7\n\n8,9,10\n"),
      write(d.resolve("dups/d.tsv"), "Gene\tgene\tScore\t\n" +
        "g1\tg2\t5\tx\n"),
      write(d.resolve("empty_header/e.csv"), "a,,c\n1,2,3\n"),
      write(d.resolve("blank_lines/b.csv"), "\n\n  \na,b\n\n1,2\n \n3,x\n"),
      write(d.resolve("wide_int/w.csv"), "a,b,c\n2147483647,2147483648," +
        "1.5\n-2147483648,9999999999,1e400\n"),
      write(d.resolve("non_ascii/u.tsv"), "name\tv\tw\nλ\t١٢٣\t1\n" +
        "日本\t2\t3.5\n"),
      write(d.resolve("header_only/h.csv"), "a,b\n"),
      write(d.resolve("empty/e.csv"), ""))
    cases.foreach(assertSameAsSpark)
    gzip(d.resolve("gz/g.csv.gz"), "a,b\n1,2.5\n3,x\n")
    write(d.resolve("gz/p.csv"), "a,b\n4,5\n")
    assertSameAsSpark(d.resolve("gz").toString + "/*")
    // a header-only file and an empty file next to data files
    write(d.resolve("mixed/1.csv"), "a,b\n1,2\n")
    write(d.resolve("mixed/2.csv"), "a,b\n")
    write(d.resolve("mixed/3.csv"), "")
    write(d.resolve("mixed/4.csv"), "a,b\n3,4.5\n5,6\n")
    assertSameAsSpark(d.resolve("mixed").toString + "/*.csv")
  }

  test("a file larger than 3 splits reads as Spark reads it, inferred by more than one task") {
    val rnd = new Random(3L)
    val p = write(dir("graft-dsv-big").resolve("big.tsv"),
      lineitemHeader + lineitemRows(rnd, 4000))
    withSmallSplits {
      val splits = DsvReader.read(spark, p).rdd.getNumPartitions
      assert(splits > 3, s"$splits splits")
      assertSameAsSpark(p)
      val (_, jobs, tasks) = jobsDuring(DsvReader.read(spark, p))
      assert(jobs == 1 && tasks > 1, s"$jobs jobs, $tasks tasks")
    }
  }

  test("full inference is one job at plan build") {
    val p = write(dir("graft-dsv-jobs").resolve("t.tsv"),
      "a\tb\tc\n1\t2.5\tx\n3\t4\ty\n")
    val (_, jobs, _) = jobsDuring(DsvReader.read(spark, p))
    assert(jobs == 1, s"$jobs jobs")
  }

  test("500 small files infer in no more tasks than the scan has partitions") {
    val d = dir("graft-dsv-many")
    (0 until 500).foreach(i =>
      write(d.resolve(f"f$i%03d.csv"), s"a,b\n$i,${i / 2.0}\n"))
    val (df, jobs, tasks) = jobsDuring(DsvReader.read(spark, s"$d/*.csv"))
    val partitions = df.rdd.getNumPartitions
    assert(jobs == 1 && tasks <= partitions,
      s"$jobs jobs, $tasks tasks, $partitions scan partitions")
    assert(df.schema.map(_.dataType) == Seq(IntegerType, DoubleType))
    assert(df.count() == 500)
  }
}
