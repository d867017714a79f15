package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 "wave 75" query set (q421–q422): Structured Streaming INTO
  * the versioned table log — the lakehouse ingestion pattern
  * (readStream → foreachBatch → transactional commit per micro-batch).
  * Each micro-batch becomes one TxLog version, so the stream gets the
  * table format's guarantees for free: snapshot isolation for
  * concurrent readers, time travel to any batch boundary, an exact
  * change feed per batch, and zone-map data skipping over the
  * committed history.
  */
object Wave75Queries {
  import CoreQueries.{T, centsSql, rmTree, streamFixture}

  // ---------------------------------------------------------------- q421
  /** Streaming commit-per-batch sink: three micro-batches (year slices
    * in mtime order) each committed transactionally; the census pins
    * the version count, the full-snapshot integrity, and the change
    * feed of the LAST batch (readChanges(2, 3) ≡ the 1998 slice) —
    * i.e. a downstream incremental consumer sees exactly one
    * micro-batch per version step.
    */
  def q421(s: SparkSession, dir: String): DataFrame = {
    val src = streamFixture(s, dir, "q421_stream_src")
    val table = CoreQueries.fixDir(dir) + "/txlog_stream"
    rmTree(table)
    val schema = graft.io.Parquet.schema(s, s"$src/b0_1996.parquet")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet").parquet(src)
    val sink: (DataFrame, Long) => Unit =
      (batch, _) => { graft.io.TxLog.commit(s, table, batch); () }
    val q = stream.writeStream.foreachBatch(sink).start()
    try q.processAllAvailable() finally q.stop()
    val vs = graft.io.TxLog.versions(table)
    val snap = graft.io.TxLog.read(s, table)
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
    val feed = graft.io.TxLog.readChanges(s, table, vs.length - 1, vs.length)
      .agg(count(lit(1)).as("feed_rows"), sum("cents").as("feed_cents"))
    snap.crossJoin(feed)
      .select(lit(vs.length.toLong).as("n_versions"),
        col("n_rows"), col("total_cents"), col("feed_rows"),
        col("feed_cents"))
  }
  val q421Sql: String =
    s"""SELECT CAST(3 AS BIGINT) AS n_versions,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum($centsSql) AS BIGINT) AS total_cents,
       |  CAST(sum(CASE WHEN year(l_shipdate) = 1998 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS feed_rows,
       |  CAST(sum(CASE WHEN year(l_shipdate) = 1998 THEN $centsSql
       |    ELSE 0 END) AS BIGINT) AS feed_cents
       |FROM lineitem WHERE year(l_shipdate) IN (1996, 1997, 1998)""".stripMargin

  // ---------------------------------------------------------------- q422
  /** Streaming zone-mapped ingestion + data skipping: the same three
    * micro-batches committed with per-commit (min, max) zone maps on
    * `yr`, then a 1997 point read — exactly ONE of the three streamed
    * commits is scanned. Data skipping over streaming history is what
    * makes "query the live table" cheap: a point read touches one
    * micro-batch's files, not the whole accumulated stream.
    */
  def q422(s: SparkSession, dir: String): DataFrame = {
    val src = streamFixture(s, dir, "q421_stream_src")
    val table = CoreQueries.fixDir(dir) + "/txlog_stream_zone"
    rmTree(table)
    val schema = graft.io.Parquet.schema(s, s"$src/b0_1996.parquet")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet").parquet(src)
    val sink: (DataFrame, Long) => Unit =
      (batch, _) => { graft.io.TxLog.commitWithZone(s, table, batch, "yr"); () }
    val q = stream.writeStream.foreachBatch(sink).start()
    try q.processAllAvailable() finally q.stop()
    val (df, scanned, total) =
      graft.io.TxLog.readPruned(s, table, "yr", 1997L)
    df.filter(col("yr") === 1997L)
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
      .select(lit(scanned.toLong).as("dirs_scanned"),
        lit(total.toLong).as("dirs_total"),
        col("n_rows"), col("total_cents"))
  }
  val q422Sql: String =
    s"""SELECT CAST(1 AS BIGINT) AS dirs_scanned,
       |  CAST(3 AS BIGINT) AS dirs_total,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum($centsSql) AS BIGINT) AS total_cents
       |FROM lineitem WHERE year(l_shipdate) = 1997""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q421_stream_txlog_sink", q421, q421Sql),
    Query("q422_stream_txlog_zone", q422, q422Sql))
}
