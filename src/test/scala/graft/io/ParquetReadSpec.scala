package graft.io

import graft.TestSpark
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

/** [[Parquet.read]] must give the schema Spark's own inference gives,
  * without launching a Spark job, on every layout graft reads.
  */
class ParquetReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Spark jobs started while `f` runs, seen by a SparkListener. Jobs
    * are bracketed by two marker jobs: the bus delivers events in
    * order, so once the closing marker is seen every job `f` started
    * has been seen too.
    */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains(name) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(name), s"listener never saw $name")
    }
    sc.addSparkListener(listener)
    try {
      marker("open")
      seen.clear()
      val out = f
      marker("close")
      (out, seen.toArray.count(_ != "close"))
    } finally sc.removeSparkListener(listener)
  }

  private def assertSameAsSpark(paths: String*): Unit = {
    val (got, jobs) = jobsDuring(Parquet.schema(spark, paths: _*))
    assert(jobs == 0, s"schema resolution launched $jobs job(s)")
    assert(got == spark.read.parquet(paths: _*).schema)
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("every sf0.01 table: same schema as inference, zero jobs") {
    val dir = "/root/testdata/sf0.01"
    val tables = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(tables.nonEmpty)
    tables.foreach(assertSameAsSpark(_))
  }

  test("multi-directory TxLog snapshot with a delete vector") {
    val table = tmp("pq_txlog") + "/t"
    val df = (1L to 200L).map(i => (i, i % 5, BigDecimal(i) / 7))
      .toDF("id", "k", "d")
    TxLog.commit(spark, table, df.filter($"id" <= 100), targetFiles = 2)
    TxLog.commit(spark, table, df.filter($"id" > 100), targetFiles = 3)
    TxLog.deleteWhere(spark, table, "k = 3", Seq("id"))
    val dataDirs = new java.io.File(s"$table/data").listFiles()
      .map(_.toString).sorted
    assert(dataDirs.length == 2)
    assertSameAsSpark(dataDirs: _*)
    assertSameAsSpark(new java.io.File(s"$table/del").listFiles()
      .map(_.toString): _*)
    val (resolved, jobs) = jobsDuring(TxLog.readResolved(spark, table))
    assert(jobs == 0, s"snapshot read launched $jobs job(s)")
    assert(resolved.count() == 160)
  }

  test("partitionBy directory (the __b= layout of compactClustered)") {
    val out = tmp("pq_part") + "/.clustered_v2"
    (1L to 300L).toDF("id").withColumn("__b", ($"id" % 3).cast("int"))
      .write.partitionBy("__b").parquet(out)
    assertSameAsSpark(out)
    assert(Parquet.schema(spark, out).fieldNames.toSeq == Seq("id", "__b"))
  }

  test("summary files are read first: _common_metadata, then _metadata") {
    val base = tmp("pq_summary")
    val data = (1L to 50L).map(i => (i, s"s$i")).toDF("a", "b")
    val wide = data.withColumn("c", lit(1.5))
    wide.coalesce(1).write.parquet(s"$base/wide")
    val wideFile = new java.io.File(s"$base/wide").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    def withSummary(name: String, names: String*): String = {
      val d = s"$base/$name"
      data.coalesce(2).write.parquet(d)
      names.foreach(n => Files.copy(wideFile.toPath, Paths.get(d, n),
        StandardCopyOption.REPLACE_EXISTING))
      d
    }
    val both = withSummary("both", "_common_metadata", "_metadata")
    val common = withSummary("common", "_common_metadata")
    val meta = withSummary("meta", "_metadata")
    Seq(both, common, meta).foreach { d =>
      assertSameAsSpark(d)
      // the summary's wider schema wins, as in Spark's inference
      assert(Parquet.schema(spark, d).fieldNames.toSeq == Seq("a", "b", "c"))
    }
  }

  test("decimals and TIMESTAMP_NTZ") {
    val out = tmp("pq_types") + "/t"
    spark.range(20).select(
      col("id"),
      (col("id") / 3).cast("decimal(18,6)").as("d18"),
      (col("id") * 1e12).cast("decimal(38,10)").as("d38"),
      lit("2024-01-02 03:04:05").cast("timestamp_ntz").as("ntz"),
      lit("2024-01-02 03:04:05").cast("timestamp").as("ts"))
      .write.parquet(out)
    assertSameAsSpark(out)
  }

  test("TIMESTAMP(NANOS) under spark.sql.legacy.parquet.nanosAsLong") {
    val out = tmp("pq_nanos") + "/nanos.parquet"
    val schema = MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |}""".stripMargin)
    val w = ExampleParquetWriter.builder(new HPath(out))
      .withType(schema).withConf(new Configuration()).build()
    try (0L until 10L).foreach { i =>
      val g = new SimpleGroup(schema)
      g.add("id", i); g.add("ts", 1700000000000000000L + i)
      w.write(g)
    } finally w.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assertSameAsSpark(out)
      assert(Parquet.schema(spark, out)("ts").dataType ==
        org.apache.spark.sql.types.LongType)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a streaming-sink directory is read through its log") {
    val base = tmp("pq_sink")
    (1L to 20L).toDF("id").write.parquet(s"$base/src")
    graft.streaming.StreamOps.streamToParquet(spark, s"$base/src",
      s"$base/out", s"$base/ckpt")
    // a stray file the sink never committed: Spark's log-based listing
    // skips it, a directory listing would pick it first by name
    Seq(("x", 1.5)).toDF("s", "d").coalesce(1).write.parquet(s"$base/stray")
    val stray = new java.io.File(s"$base/stray").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(stray.toPath, Paths.get(s"$base/out/a-stray.parquet"))
    assertSameAsSpark(s"$base/out")
    assert(Parquet.schema(spark, s"$base/out").fieldNames.toSeq == Seq("id"))
  }

  test("a missing path fails with Spark's own error") {
    val missing = tmp("pq_missing") + "/nope.parquet"
    val ours = intercept[AnalysisException](Parquet.read(spark, missing))
    val theirs = intercept[AnalysisException](spark.read.parquet(missing))
    assert(ours.getCondition == theirs.getCondition)
    assert(ours.getMessage == theirs.getMessage)
  }
}
