package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Streaming surface (SURVEY §2.11 — extension; the reference is batch
  * only). The engine's `stream` command maps to Structured Streaming:
  * readStream -> watermark -> windowed agg -> sink. Batch and streaming
  * share the same windowing expressions, so the batch forms below are the
  * oracle-checkable twins of the streaming ones.
  */
object StreamOps {

  /** Drive a streaming query over a bounded file source to completion
    * and return its result: start `query` on a memory sink named
    * `queryName`, `processAllAvailable`, stop, and read the table.
    *
    * The state-store instance count is fixed at query start from
    * `spark.sql.shuffle.partitions`, and every instance pays a fixed
    * cost per micro-batch (state-store load, delta write, commit, and
    * the task that hosts it) however little state it holds: q177's
    * left-outer stream-stream join over 10 k events takes 3.5 s at 8
    * instances and 1.7 s at 1 (local[4] on a 4-core VM). So the count
    * is sized from the input the replay reads, like AQE sizes a
    * shuffle:
    * `ceil(bytes(source) / spark.sql.adaptive.advisoryPartitionSizeInBytes)`
    * clamped to `[1, spark.sql.shuffle.partitions]` — one instance for a
    * gate-scale smoke, the session's full parallelism once the input
    * is large enough to need it. The session setting is restored
    * afterwards, also when the query fails.
    */
  def runBounded(spark: SparkSession, source: String, queryName: String,
                 outputMode: String)(query: Dataset[_]): DataFrame = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, stateInstances(spark, inputBytes(spark, source)))
    try {
      val q = query.writeStream
        .outputMode(outputMode)
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.set(key, prev)
    spark.table(queryName)
  }

  /** State-store instances for a bounded replay of `bytes` input bytes. */
  private def stateInstances(spark: SparkSession, bytes: Long)
      : Int = {
    val conf = spark.sessionState.conf
    val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val wanted = (bytes + advisory - 1) / advisory
    val cap = conf.getConf(SQLConf.SHUFFLE_PARTITIONS).toLong
    math.max(1L, math.min(wanted, cap)).toInt
  }

  /** Bytes of the files a file-stream source over `path` reads. */
  private def inputBytes(spark: SparkSession, path: String): Long =
    new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
      .sizeInBytes

  /** Run `f` under a specific state-store provider, restoring the prior
    * session setting afterwards. A bare conf.set leaks the provider to
    * every LATER streaming query in the session — measured in round 4:
    * q51's un-restored RocksDB setting tripled the cost of the
    * unrelated stream-stream joins that happened to run after it.
    */
  def withStateStoreProvider[T](spark: SparkSession, providerClass: String)
      (f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, providerClass)
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** File-stream source over a parquet path, schema read from the
    * footer on the driver ([[graft.io.Parquet]]). The file-stream source
    * requires a directory; a single-file path is rewritten to parent
    * dir + pathGlobFilter.
    */
  def fileStream(spark: SparkSession, parquetPath: String): DataFrame = {
    val schema = graft.io.Parquet.schema(spark, parquetPath)
    val f = new java.io.File(parquetPath)
    val reader0 = spark.readStream.schema(schema)
    val reader =
      if (f.isFile) reader0.option("pathGlobFilter", f.getName)
      else reader0
    val srcPath = if (f.isFile) f.getParent else parquetPath
    reader.parquet(srcPath)
  }

  /** Streaming tumbling window over a bounded parquet dir, driven to
    * completion synchronously (memory sink + processAllAvailable) — the
    * local-mode smoke shape; swap source/sink for Kafka/files in prod.
    * Watermark bounds state so a 100 TB/day stream does not accumulate
    * unbounded window state.
    */
  def streamTumblingCounts(spark: SparkSession, parquetPath: String,
                           tsCol: String, keyCol: String,
                           window: String = "1 hour",
                           watermark: String = "1 hour",
                           queryName: String = "stream_counts",
                           prepare: DataFrame => DataFrame = identity)
      : DataFrame = {
    val src = prepare(fileStream(spark, parquetPath))
    val agg = src
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col(keyCol),
        col("n"), col("total_value"))
    runBounded(spark, parquetPath, queryName, "complete")(agg)
  }

  /** Streaming exact deduplication: dropDuplicates on a content digest
    * over a file stream. The output keeps ONLY content-derived columns
    * (the md5 digest), so the result set is independent of which member
    * of a duplicate class arrived first — micro-batch arrival order is
    * nondeterministic, the distinct digest set is not (that's what
    * makes this oracle-checkable). In an unbounded deployment pair this
    * with `withWatermark` + `dropDuplicatesWithinWatermark` so the
    * digest state store evicts; the bounded local smoke keeps full
    * state, which is exact.
    */
  def streamDistinctDigests(spark: SparkSession, parquetPath: String,
                            textCol: String,
                            queryName: String = "stream_dedup")
      : DataFrame = {
    val distinct = fileStream(spark, parquetPath)
      .select(md5(col(textCol)).as("digest"))
      .dropDuplicates("digest")
    runBounded(spark, parquetPath, queryName, "append")(distinct)
  }

  /** Streaming distinct over ARBITRARY derived keys (the generalized
    * form of [[streamDistinctDigests]]): `keyed` projects the stream to
    * the content-derived key columns, dropDuplicates keeps state per
    * distinct key. Output carries only the keys, so the result is
    * independent of micro-batch slicing — oracle-checkable against the
    * batch distinct. Same watermark/eviction story as the digest form.
    */
  def streamDistinct(spark: SparkSession, parquetPath: String,
                     keyed: DataFrame => DataFrame,
                     queryName: String = "stream_distinct"): DataFrame = {
    val distinct = keyed(fileStream(spark, parquetPath)).dropDuplicates()
    runBounded(spark, parquetPath, queryName, "append")(distinct)
  }

  /** Streaming deterministic hash-sample — data curation applied AT
    * INGEST: the same md5-threshold keep/drop rule Sampling.sample
    * uses, as a stateless streaming filter. Statelessness is the
    * point: the kept set is a pure function of each row, so the result
    * is independent of micro-batch slicing, restarts and re-deliveries
    * (an at-least-once source re-delivering a row makes the same
    * decision twice) — which is also what makes it oracle-checkable
    * against the batch twin.
    */
  def streamHashSample(spark: SparkSession, parquetPath: String,
                       keyCol: String, rate: Double,
                       queryName: String = "stream_sample")
      : DataFrame = {
    val sampled = graft.ops.ext.Sampling.sample(
      fileStream(spark, parquetPath), keyCol, rate)
    runBounded(spark, parquetPath, queryName, "append")(sampled)
  }

  /** Stream-static enrichment: join a stream to a STATIC dimension
    * (Spark plans it as a broadcast per micro-batch — the canonical
    * enrich-then-aggregate shape), then tumbling-window aggregate on a
    * dimension attribute. At scale the static side is a dimension
    * snapshot refreshed by restarting the query (or a stream-stream
    * join with watermarks if it must be live); state is bounded by the
    * watermark exactly as in the plain windowed agg.
    */
  def streamStaticEnrich(spark: SparkSession, parquetPath: String,
                         tsCol: String, keyCol: String,
                         dim: DataFrame, segCol: String,
                         window: String = "1 hour",
                         watermark: String = "1 hour",
                         queryName: String = "stream_enrich",
                         prepare: DataFrame => DataFrame = identity)
      : DataFrame = {
    val enriched = prepare(fileStream(spark, parquetPath))
      .join(broadcast(dim), keyCol)
    val agg = enriched
      .withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col(segCol))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col(segCol),
        col("n"), col("total_value"))
    runBounded(spark, parquetPath, queryName, "complete")(agg)
  }

  /** Production sink shape: stream to a DIRECTORY parquet sink with a
    * checkpoint (exactly-once via the sink's commit log), driven to
    * completion on the bounded source. The memory-sink helpers above
    * are the local-mode verification shape; this is the one a real
    * deployment uses — restart with the same checkpoint resumes, and
    * the output is a normal parquet table any batch reader consumes.
    * Append-mode only (file sinks cannot update), so aggregations need
    * a watermark for final-result emission.
    */
  def streamToParquet(spark: SparkSession, parquetPath: String,
                      outPath: String, checkpointPath: String,
                      transform: DataFrame => DataFrame = identity): Unit = {
    val q = transform(fileStream(spark, parquetPath))
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpointPath)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Stream-STREAM inner join: two event streams (here: two typed
    * slices of one stream) joined per key within a time range —
    * "purchase within `within` after click". Both sides carry
    * watermarks and the join condition bounds purchase_ts relative to
    * click_ts in BOTH directions, so Spark can compute state
    * expiration for each side (the canonical bounded stream-stream
    * join; an unbounded condition would hold all history in state).
    * Output is append-mode: inner-join results are final once the
    * watermark passes, and the joined pair set is independent of
    * micro-batch slicing — which is what makes it oracle-checkable
    * against the batch join.
    */
  def streamStreamJoin(spark: SparkSession, parquetPath: String,
                       typeCol: String, leftType: String, rightType: String,
                       tsCol: String, idCol: String, keyCol: String,
                       within: String = "30 minutes",
                       watermark: String = "1 hour",
                       queryName: String = "stream_join",
                       prepare: DataFrame => DataFrame = identity,
                       joinType: String = "inner")
      : DataFrame = {
    val src = prepare(fileStream(spark, parquetPath))
    val left = src.filter(col(typeCol) === leftType)
      .select(col(keyCol).as("l_key"), col(idCol).as("left_id"),
        col(tsCol).as("left_ts"))
      .withWatermark("left_ts", watermark)
    val right = src.filter(col(typeCol) === rightType)
      .select(col(keyCol).as("r_key"), col(idCol).as("right_id"),
        col(tsCol).as("right_ts"))
      .withWatermark("right_ts", watermark)
    // outer variants emit the null-extended row only once the watermark
    // has passed the row's join-window end — on a bounded replay the
    // caller must push the FINAL watermark past (last real ts + within)
    // on BOTH filtered inputs (the global watermark is their min), i.e.
    // plant one future sentinel row per side (see q177's fixture).
    val joined = left.join(right,
      expr(s"""l_key = r_key AND
               right_ts >= left_ts AND
               right_ts <= left_ts + interval $within"""), joinType)
      .select(col("l_key").as(keyCol), col("left_id"), col("right_id"))
    runBounded(spark, parquetPath, queryName, "append")(joined)
  }

  /** CHAINED stateful operators in one streaming query: watermarked
    * dedup (dropDuplicatesWithinWatermark — state evicts as the
    * watermark advances, the unbounded-stream requirement) feeding a
    * tumbling-window aggregate, append-mode (complete mode cannot sit
    * downstream of a dedup). Append emits a window only once the
    * watermark passes its end, so a bounded replay would swallow the
    * trailing window(s); callers append a SENTINEL row with an event
    * time past the real data (and key `sentinelKey`, filtered from the
    * result) to push the final watermark beyond the last real window —
    * the sentinel's own window never fires, so it leaves no residue.
    * The dedup key set must make duplicate classes co-arrive within the
    * watermark of each other; the exact-replay fixture satisfies that
    * trivially (copies carry identical event times).
    */
  def streamDedupThenWindow(spark: SparkSession, parquetPath: String,
                            tsCol: String, keyCol: String,
                            dedupCols: Seq[String], sentinelKey: Long,
                            window: String = "1 hour",
                            watermark: String = "1 hour",
                            queryName: String = "stream_dedup_window")
      : DataFrame = {
    val agg = fileStream(spark, parquetPath)
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(dedupCols)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window),
        col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(keyCol), col("n"))
      .filter(col(keyCol) =!= sentinelKey)
    runBounded(spark, parquetPath, queryName, "append")(agg)
  }

  /** Sessionization: session_window with gap — batch twin. */
  def sessionCounts(df: DataFrame, tsCol: String, keyCol: String,
                    gap: String = "30 minutes"): DataFrame =
    df.groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col(keyCol), col("n"))

  /** STREAMING sessionization — [[sessionCounts]] under watermarked
    * state: session windows merge in the state store as events arrive
    * and emit (append mode) once the watermark passes a session's end.
    * A session closes only when the watermark clears last-event + gap,
    * so a bounded replay plants ONE future sentinel row (single input —
    * one global watermark, unlike q177's two-sided join) to flush the
    * final real sessions; the sentinel's own never-closed session stays
    * in state and is filtered by the caller.
    */
  def streamSessionCounts(spark: SparkSession, parquetPath: String,
                          tsCol: String, keyCol: String,
                          gap: String = "30 minutes",
                          watermark: String = "1 hour",
                          queryName: String = "stream_sessions",
                          prepare: DataFrame => DataFrame = identity)
      : DataFrame = {
    val agg = prepare(fileStream(spark, parquetPath))
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col(keyCol), col("n"))
    runBounded(spark, parquetPath, queryName, "append")(agg)
  }
}
