package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

class StreamSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("parquet file sink with checkpoint matches the batch result") {
    val src = Files.createTempDirectory("sink_src").toString
    val out = Files.createTempDirectory("sink_out").toString + "/t"
    val ckpt = Files.createTempDirectory("sink_ckpt").toString
    (1L to 1000L).map(i => (i, i % 7)).toDF("id", "k")
      .write.mode("overwrite").parquet(src)
    StreamOps.streamToParquet(spark, src, out, ckpt,
      transform = _.filter(col("k") =!= 0).withColumn("dbl", col("id") * 2))
    val got = spark.read.parquet(out)
      .select("id", "k", "dbl").as[(Long, Long, Long)].collect().toSet
    val want = (1L to 1000L).filter(_ % 7 != 0).map(i => (i, i % 7, i * 2)).toSet
    assert(got == want)
    // restart with the same checkpoint: no new data -> no duplicates
    StreamOps.streamToParquet(spark, src, out, ckpt,
      transform = _.filter(col("k") =!= 0).withColumn("dbl", col("id") * 2))
    assert(spark.read.parquet(out).count() == want.size)
  }

  private val checkpointManager =
    "spark.sql.streaming.checkpointFileManagerClass"
  private val managers = "org.apache.spark.sql.execution.streaming." +
    "checkpointing."

  /** Streams `src` to a fresh output on one checkpoint twice, appending
    * a new input file between the runs (the first run under
    * `firstManager`), and returns the ids the output holds.
    */
  private def restartedIds(firstManager: Option[String]): Seq[Long] = {
    val src = Files.createTempDirectory("restart_src").toString + "/ev"
    val out = Files.createTempDirectory("restart_out").toString + "/t"
    val ckpt = Files.createTempDirectory("restart_ckpt").toString
    (1L to 300L).toDF("id").coalesce(1).write.parquet(src)
    firstManager match {
      case Some(m) => withConf(checkpointManager -> (managers + m)) {
        StreamOps.streamToParquet(spark, src, out, ckpt)
      }
      case None => StreamOps.streamToParquet(spark, src, out, ckpt)
    }
    (301L to 500L).toDF("id").coalesce(1).write.mode("append").parquet(src)
    StreamOps.streamToParquet(spark, src, out, ckpt)
    spark.read.parquet(out).as[Long].collect().toSeq.sorted
  }

  test("a restarted file stream emits every row exactly once") {
    assert(restartedIds(None) == (1L to 500L))
  }

  test("a checkpoint the FileContext manager wrote resumes") {
    assert(spark.conf.get(checkpointManager) ==
      managers + "FileSystemBasedCheckpointFileManager")
    assert(restartedIds(Some("FileContextBasedCheckpointFileManager")) ==
      (1L to 500L))
  }

  test("streamDistinct over derived keys matches the batch distinct") {
    val src = Files.createTempDirectory("sd_src").toString
    (1L to 300L).map(i => (i, s"k${i % 40}")).toDF("id", "raw")
      .write.mode("overwrite").parquet(src)
    val got = StreamOps.streamDistinct(spark, src,
      df => df.select(upper(col("raw")).as("key")), "sd_test")
      .as[String].collect().toSet
    assert(got == (0 until 40).map(i => s"K$i").toSet)
    // session shuffle partitions restored after the bounded run
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("runningEwma single-batch stream equals the batch array fold") {
    val src = Files.createTempDirectory("ewma_src").toString
    // 3 users x 40 events, ts deliberately written out of order
    val rows = for (u <- 1L to 3L; i <- 0L until 40L)
      yield (u, (40 - i) * 1000L, u * 100 + i, (i % 7).toDouble + u)
    rows.toDF("user_id", "ts", "event_id", "value")
      .write.mode("overwrite").parquet(src)
    val ds = StreamOps.fileStream(spark, src).as[Stateful.TimedEvent]
    val streamed = StreamOps.runBounded(spark, src, "ewma_spec", "update")(
        Stateful.runningEwma(spark, ds, alpha = 0.25))
      .select("user_id", "n_events", "ewma")
      .as[(Long, Long, Double)].collect().toSet
    val batch = graft.ops.Rolling.ewma(
      spark.read.parquet(src), Seq("user_id"),
      Seq(col("ts"), col("event_id")), "value", alpha = 0.25)
      .select(col("user_id"), col("n_events"), col("ewma"))
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2, t._3)).toSet
    // batch op rounds to 6 dp; round the streamed side identically
    val streamedR = streamed.map(t => (t._1, t._2,
      BigDecimal(t._3).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble))
    assert(streamedR == batch)
  }

  test("compact resizes a many-file table without changing its rows") {
    val in = Files.createTempDirectory("compact_in").toString + "/t"
    val out = Files.createTempDirectory("compact_out").toString + "/t"
    (1L to 5000L).toDF("id").repartition(64)
      .write.mode("overwrite").parquet(in)
    val before = new java.io.File(in).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before == 64)
    graft.io.Layout.compact(spark, in, out, targetBytes = 64L << 10)
    val after = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after < before, s"expected fewer files, got $after")
    assert(spark.read.parquet(out).as[Long].collect().toSet ==
      (1L to 5000L).toSet)
  }

  test("chained dedup -> window agg emits every real window exactly once") {
    val src = Files.createTempDirectory("chain_src").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    // two users, three hours of events, EVERY row duplicated; sentinel
    // at +5h releases the last real window under a 1h watermark
    val rows = for {
      u <- Seq(1L, 2L); m <- Seq(10L, 70L, 130L, 150L); _ <- 1 to 2
    } yield (u, ts(m), 1.0)
    val all = rows :+ ((-1L, ts(300L), 0.0))
    all.toDF("user_id", "ts", "value")
      .write.mode("overwrite").parquet(src)
    val got = StreamOps.streamDedupThenWindow(spark, src, "ts", "user_id",
        dedupCols = Seq("user_id", "ts", "value"), sentinelKey = -1L,
        queryName = "chain_test")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
      .toSet
    // dedup collapses the doubles; hour 2 holds minutes 130 and 150
    val want = Seq(1L, 2L).flatMap(u => Seq(
      (ts(0), u, 1L), (ts(60), u, 1L), (ts(120), u, 2L))).toSet
    assert(got == want)
  }

  // ---- bounded-replay runner: state sized from the input ------------

  private val shufflePartitions = "spark.sql.shuffle.partitions"
  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `f`'s result and the state-store instance count the progress of
    * the streaming query `name` reports (`stateOperators(0)`).
    */
  private def stateInstancesOf[T](name: String)(f: => T): (T, Long) = {
    val seen = new ConcurrentLinkedQueue[Long]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == name)
          e.progress.stateOperators.headOption
            .foreach(o => seen.add(o.numShufflePartitions))
    }
    spark.streams.addListener(listener)
    try {
      val out = f
      val deadline = System.nanoTime() + 30e9.toLong
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      assert(!seen.isEmpty, s"no state-operator progress for $name")
      (out, seen.peek())
    } finally spark.streams.removeListener(listener)
  }

  /** Settings under which the runner picks exactly 8 instances: every
    * input byte asks for one, clamped to 8 shuffle partitions.
    */
  private val fixed8 = Seq(advisory -> "1b", shufflePartitions -> "8")

  test("runner: sentinel left-outer stream join equals 8 fixed instances") {
    val src = Files.createTempDirectory("sized_join").toString + "/ev"
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(min: Long) = new java.sql.Timestamp(base + min * 60000)
    val events = for (u <- 1L to 20L; i <- 0L until 10L; e <- Seq(
        Some((u, u * 1000 + i, ts(u * 7 + i * 13), "click")),
        if (i % 3 == 0) Some((u, u * 1000 + 500 + i,
          ts(u * 7 + i * 13 + (i % 4) * 10), "purchase")) else None).flatten)
      yield e
    val end = 20L * 7 + 9 * 13 + 180
    val sentinels = Seq((-1L, -1L, ts(end), "click"),
      (-2L, -2L, ts(end), "purchase"))
    (events ++ sentinels).toDF("user_id", "event_id", "ts", "event_type")
      .coalesce(1).write.parquet(src)
    def run(name: String) = stateInstancesOf(name) {
      StreamOps.streamStreamJoin(spark, src, "event_type", "click",
          "purchase", "ts", "event_id", "user_id", within = "30 minutes",
          watermark = "1 hour", queryName = name, joinType = "left_outer")
        .filter(col("user_id") >= 0)
        .as[(Long, Long, Option[Long])].collect().toSet
    }
    val (sized, n) = run("sized_join")
    val (fixed, n8) = withConf(fixed8: _*)(run("fixed_join"))
    assert(n == 1, "a KB-sized replay needs one state-store instance")
    assert(n8 == 8)
    assert(sized == fixed)
    // every click is emitted, matched or null-extended
    assert(sized.map(_._2) ==
      (for (u <- 1L to 20L; i <- 0L until 10L) yield u * 1000 + i).toSet)
    assert(sized.exists(_._3.isEmpty) && sized.exists(_._3.nonEmpty))
    assert(spark.conf.get(shufflePartitions) == "4")
  }

  test("runner: flatMapGroupsWithState update query sized from its input") {
    val src = Files.createTempDirectory("sized_fmgws").toString + "/ev"
    (1L to 40000L).map(i => (i % 97, i * 1000, i, (i % 13).toDouble))
      .toDF("user_id", "ts", "event_id", "value")
      .coalesce(1).write.parquet(src)
    val bytes = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    def run(name: String) = stateInstancesOf(name) {
      val ds = StreamOps.fileStream(spark, src).as[Stateful.TimedEvent]
      StreamOps.runBounded(spark, src, name, "update")(
          Stateful.runningMoments(spark, ds))
        .as[Stateful.MomentsState].collect().toSet
    }
    val (small, n1) = run("moments_small")
    // the advisory size below the input: more than one instance,
    // clamped to the session's 4 shuffle partitions
    assert(bytes > 4 * 8192, s"fixture too small: $bytes bytes")
    val (large, nLarge) = withConf(advisory -> "8k")(run("moments_large"))
    val (fixed, n8) = withConf(fixed8: _*)(run("moments_fixed"))
    assert(n1 == 1)
    assert(nLarge == 4)
    assert(n8 == 8)
    assert(small.size == 97 && small == large && small == fixed)
    assert(spark.conf.get(shufflePartitions) == "4")
  }

  test("runner restores spark.sql.shuffle.partitions after a failed query") {
    val src = Files.createTempDirectory("sized_fail").toString + "/ev"
    (1L to 10L).toDF("id").write.parquet(src)
    intercept[Exception] {
      StreamOps.runBounded(spark, src, "fail_spec", "append")(
        StreamOps.fileStream(spark, src)
          .select(raise_error(concat(lit("boom "), col("id").cast("string")))))
    }
    assert(spark.conf.get(shufflePartitions) == "4")
  }
}
