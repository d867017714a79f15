package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 "wave 72" query set (q415–q416): the table log's lifecycle
  * close-out — VACUUM retention (compaction only reclaims space once
  * unreferenced directories actually go away) and commit-level
  * zone-map pruning (the parquet footer min/max idea lifted to the
  * table format, so a point read skips whole COMMITS without opening
  * a footer). With q411–q413 this makes [[graft.io.TxLog]] a complete
  * minimal lake: append, time travel, compact, change feed, merge,
  * vacuum, data skipping.
  */
object Wave72Queries {
  import CoreQueries.{T, centsSql, rmTree, yearSlice}

  // ---------------------------------------------------------------- q415
  /** VACUUM census: append 1996 + 1997, compact, vacuum(keep=1). The
    * contract: exactly the two pre-compaction directories are deleted,
    * the current snapshot still reads every row, and the kept-window
    * version list shrinks to the compacted version only.
    */
  def q415(s: SparkSession, dir: String): DataFrame = {
    val table = CoreQueries.fixDir(dir) + "/txlog_vacuum"
    rmTree(table)
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1996))
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1997))
    graft.io.TxLog.compact(s, table)
    val removed = graft.io.TxLog.vacuum(table, keepVersions = 1)
    val vs = graft.io.TxLog.versions(table)
    graft.io.TxLog.read(s, table)
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
      .select(lit(removed.toLong).as("dirs_removed"),
        lit(vs.length.toLong).as("versions_kept"),
        lit(vs.last.toLong).as("current_version"),
        col("n_rows"), col("total_cents"))
  }
  val q415Sql: String =
    s"""SELECT CAST(2 AS BIGINT) AS dirs_removed,
       |  CAST(1 AS BIGINT) AS versions_kept,
       |  CAST(3 AS BIGINT) AS current_version,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum($centsSql) AS BIGINT) AS total_cents
       |FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)""".stripMargin

  // ---------------------------------------------------------------- q416
  /** Zone-map pruned point read: three zone-mapped year commits, then
    * a yr=1997 read — the census proves exactly ONE of three commit
    * directories is scanned and the pruned read returns precisely the
    * 1997 rows (an in-frame filter closes the gap between "can
    * contain" and "matches", same as parquet row-group pruning).
    */
  def q416(s: SparkSession, dir: String): DataFrame = {
    val table = CoreQueries.fixDir(dir) + "/txlog_zone"
    rmTree(table)
    Seq(1996, 1997, 1998).foreach(yr =>
      graft.io.TxLog.commitWithZone(s, table, yearSlice(s, dir, yr), "yr"))
    val (df, scanned, total) =
      graft.io.TxLog.readPruned(s, table, "yr", 1997L)
    df.filter(col("yr") === 1997L)
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
      .select(lit(scanned.toLong).as("dirs_scanned"),
        lit(total.toLong).as("dirs_total"),
        col("n_rows"), col("total_cents"))
  }
  val q416Sql: String =
    s"""SELECT CAST(1 AS BIGINT) AS dirs_scanned,
       |  CAST(3 AS BIGINT) AS dirs_total,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum($centsSql) AS BIGINT) AS total_cents
       |FROM lineitem WHERE year(l_shipdate) = 1997""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q415_txlog_vacuum", q415, q415Sql),
    Query("q416_txlog_zonemap", q416, q416Sql))
}
