package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 "wave 79" query set (q429–q430): clustered compaction
  * (OPTIMIZE's 1-D clustering core — rewrite into range-disjoint,
  * zone-mapped buckets so point reads prune even when every original
  * commit straddled the full range) and streaming UPSERT into the
  * table log (readStream → foreachBatch → MERGE per micro-batch: the
  * CDC-apply pattern landing in a versioned lake table).
  */
object Wave79Queries {
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

  // ---------------------------------------------------------------- q429
  /** Clustered compaction ([[graft.io.TxLog.compactClustered]]): three
    * commits sliced by `l_orderkey % 3` — each spans essentially the
    * whole `z = l_orderkey % 997` range, so a point read scans ALL of
    * them (zone maps can't help interleaved layouts). One clustered
    * rewrite into 4 exact-quantile buckets later, the same point read
    * scans 1 of 4, and the row set is untouched. This is why OPTIMIZE
    * exists: data skipping is a property of LAYOUT, not just of stats.
    */
  def q429(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = CoreQueries.fixDir(dir) + "/txlog_cluster"
    rmTree(table)
    val base = T(s, dir, "lineitem").select(col("l_orderkey"),
      (col("l_orderkey") % 997).as("z"),
      floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * 100.0 + 0.5).cast("long").as("cents"))
    (0 until 3).foreach { b =>
      graft.io.TxLog.commitWithZone(s, table,
        base.filter(col("l_orderkey") % 3 === b), "z")
    }
    val totalRows = graft.io.TxLog.read(s, table).count()
    val (_, preScan, preTotal) =
      graft.io.TxLog.readPruned(s, table, "z", 500L)
    graft.io.TxLog.compactClustered(s, table, "z", buckets = 4)
    val (post, postScan, postTotal) =
      graft.io.TxLog.readPruned(s, table, "z", 500L)
    val hit = post.filter(col("z") === 500L)
      .agg(count(lit(1)), coalesce(sum("cents"), lit(0L))).head()
    val rowsAfter = graft.io.TxLog.read(s, table).count()
    Seq((preScan.toLong, preTotal.toLong, postScan.toLong, postTotal.toLong,
        hit.getLong(0), hit.getLong(1), totalRows, rowsAfter))
      .toDF("pre_scan", "pre_total", "post_scan", "post_total",
        "n_rows", "total_cents", "rows_before", "rows_after")
  }
  val q429Sql: String =
    """SELECT CAST(3 AS BIGINT) AS pre_scan,
      |  CAST(3 AS BIGINT) AS pre_total,
      |  CAST(1 AS BIGINT) AS post_scan,
      |  CAST(4 AS BIGINT) AS post_total,
      |  CAST(sum(CASE WHEN l_orderkey % 997 = 500 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_rows,
      |  CAST(sum(CASE WHEN l_orderkey % 997 = 500 THEN
      |    CAST(floor(l_extendedprice * (1.0e0 - l_discount) * 100.0e0
      |      + 0.5e0) AS BIGINT) ELSE 0 END) AS BIGINT) AS total_cents,
      |  CAST(count(*) AS BIGINT) AS rows_before,
      |  CAST(count(*) AS BIGINT) AS rows_after
      |FROM lineitem""".stripMargin

  // ---------------------------------------------------------------- q430
  /** Streaming MERGE-per-batch ([[graft.io.TxLog.merge]] under
    * foreachBatch): three micro-batches of per-customer-bucket order
    * counts (years 1996 → 1998 in mtime order) upsert into the table —
    * first batch seeds, each later batch REPLACES the rows of keys it
    * carries. The final snapshot is last-writer-wins per key, which the
    * oracle replays as "take each key's row from its max year". Census
    * pins the version count, key count, and two content folds.
    */
  def q430(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val fix = CoreQueries.fixDir(dir)
    val src = s"$fix/q430_stream_src"
    val ready = Paths.get(s"$src/READY")
    if (!Files.exists(ready)) {
      Files.createDirectories(Paths.get(src))
      val t0 = System.currentTimeMillis() - 60000
      Seq(1996, 1997, 1998).zipWithIndex.foreach { case (yr, i) =>
        val stage = s"$src/__stage_$yr"
        T(s, dir, "orders").filter(year(col("o_orderdate")) === yr)
          .select((col("o_custkey") % 500).as("k"),
            year(col("o_orderdate")).cast("long").as("yr"))
          // coalesce(1): fixture staging only (one source file per
          // micro-batch at gate scale) — not a data-path pattern
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
          .filter(_.endsWith(".parquet")).head
        val dst = Paths.get(s"$src/b$i" + s"_$yr.parquet")
        Files.move(Paths.get(part), dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(t0 + i * 10000))
      }
      Files.createFile(ready)
    }
    val table = fix + "/txlog_stream_merge"
    rmTree(table)
    val schema = graft.io.Parquet.schema(s, s"$src/b0_1996.parquet")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet").parquet(src)
    val sink: (DataFrame, Long) => Unit = (batch, _) => {
      val upserts = batch.groupBy("k", "yr")
        .agg(count(lit(1)).as("c"))
      if (graft.io.TxLog.currentVersion(table).isEmpty)
        graft.io.TxLog.commit(s, table, upserts)
      else graft.io.TxLog.merge(s, table, upserts, Seq("k"))
      ()
    }
    val q = stream.writeStream.foreachBatch(sink).start()
    try q.processAllAvailable() finally q.stop()
    val nv = graft.io.TxLog.versions(table).length.toLong
    graft.io.TxLog.read(s, table)
      .agg(count(lit(1)).as("n_keys"), sum("c").as("total_c"),
        sum(col("k") * col("c")).as("weighted"),
        sum(col("yr") * col("c")).as("yr_fold"))
      .select(lit(nv).as("n_versions"), col("n_keys"), col("total_c"),
        col("weighted"), col("yr_fold"))
  }
  val q430Sql: String =
    """WITH per AS (SELECT o_custkey % 500 AS k,
      |    CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM orders WHERE year(o_orderdate) IN (1996, 1997, 1998)
      |  GROUP BY 1, 2),
      |last AS (SELECT k, max(yr) AS yr FROM per GROUP BY 1)
      |SELECT CAST(3 AS BIGINT) AS n_versions,
      |  CAST(count(*) AS BIGINT) AS n_keys,
      |  CAST(sum(c) AS BIGINT) AS total_c,
      |  CAST(sum(k * c) AS BIGINT) AS weighted,
      |  CAST(sum(yr * c) AS BIGINT) AS yr_fold
      |FROM per JOIN last USING (k, yr)""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q429_txlog_cluster", q429, q429Sql),
    Query("q430_stream_txlog_merge", q430, q430Sql))
}
