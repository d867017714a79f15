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
  import CoreQueries.T

  private def rmTree(table: String): Unit = {
    val root = java.nio.file.Paths.get(table)
    if (java.nio.file.Files.exists(root)) {
      val it = java.nio.file.Files.walk(root)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator()
      while (it.hasNext) java.nio.file.Files.delete(it.next())
    }
  }

  private def yearSlice(s: SparkSession, dir: String, yr: Int): DataFrame =
    T(s, dir, "lineitem")
      .filter(year(col("l_shipdate")) === yr)
      .select(col("l_orderkey"),
        year(col("l_shipdate")).cast("long").as("yr"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100.0 + 0.5).cast("long").as("cents"))

  /** Three single-file year slices with ascending mtimes — with
    * maxFilesPerTrigger=1 the file source turns them into exactly
    * three micro-batches in year order (the q181 replay discipline).
    */
  private def streamFixture(s: SparkSession, dir: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = s"${CoreQueries.fixDir(dir)}/q421_stream_src"
    val ready = Paths.get(s"$tmp/READY")
    if (!Files.exists(ready)) {
      Files.createDirectories(Paths.get(tmp))
      val t0 = System.currentTimeMillis() - 60000
      Seq(1996, 1997, 1998).zipWithIndex.foreach { case (yr, i) =>
        val stage = s"$tmp/__stage_$yr"
        // coalesce(1) is FIXTURE STAGING ONLY (one streaming-source file
        // per micro-batch at gate scale) — never copy into a data path
        yearSlice(s, dir, yr).coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
          .filter(_.endsWith(".parquet")).head
        val dst = Paths.get(s"$tmp/b$i" + s"_$yr.parquet")
        Files.move(Paths.get(part), dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(t0 + i * 10000))
      }
      Files.createFile(ready)
    }
    tmp
  }

  private val centsSql =
    "CAST(floor(l_extendedprice * (1.0e0 - l_discount) * 100.0e0 + 0.5e0) AS BIGINT)"

  // ---------------------------------------------------------------- q421
  /** Streaming commit-per-batch sink: three micro-batches (year slices
    * in mtime order) each committed transactionally; the census pins
    * the version count, the full-snapshot integrity, and the change
    * feed of the LAST batch (readChanges(2, 3) ≡ the 1998 slice) —
    * i.e. a downstream incremental consumer sees exactly one
    * micro-batch per version step.
    */
  def q421(s: SparkSession, dir: String): DataFrame = {
    val src = streamFixture(s, dir)
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
    val src = streamFixture(s, dir)
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
