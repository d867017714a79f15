package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 "wave 74" query set (q419–q420): table-log maintenance
  * surface — zone-map RANGE pruning (the range twin of q416's point
  * read) and policy-driven auto-compaction (the OPTIMIZE-when-needed
  * trigger a scheduler calls unconditionally). Together with waves
  * 69–72 the [[graft.io.TxLog]] surface now matches what a lake
  * deployment actually schedules: append, merge, time travel, change
  * feed, point/range data skipping, compaction policy, vacuum.
  */
object Wave74Queries {
  import CoreQueries.{T, centsSql, rmTree, yearSlice}

  // ---------------------------------------------------------------- q419
  /** Zone-map pruned RANGE read ([[graft.io.TxLog.readPrunedRange]]):
    * four zone-mapped year commits (1995–1998), then a [1996, 1997]
    * range read — exactly TWO of four commit directories are scanned,
    * and the in-frame filter closes the "can contain" gap exactly as
    * parquet row-group pruning does.
    */
  def q419(s: SparkSession, dir: String): DataFrame = {
    val table = CoreQueries.fixDir(dir) + "/txlog_range"
    rmTree(table)
    Seq(1995, 1996, 1997, 1998).foreach(yr =>
      graft.io.TxLog.commitWithZone(s, table, yearSlice(s, dir, yr), "yr"))
    val (df, scanned, total) =
      graft.io.TxLog.readPrunedRange(s, table, "yr", 1996L, 1997L)
    df.filter(col("yr").between(1996L, 1997L))
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
      .select(lit(scanned.toLong).as("dirs_scanned"),
        lit(total.toLong).as("dirs_total"),
        col("n_rows"), col("total_cents"))
  }
  val q419Sql: String =
    s"""SELECT CAST(2 AS BIGINT) AS dirs_scanned,
       |  CAST(4 AS BIGINT) AS dirs_total,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum($centsSql) AS BIGINT) AS total_cents
       |FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)""".stripMargin

  // ---------------------------------------------------------------- q420
  /** Auto-compaction policy ([[graft.io.TxLog.compactIfNeeded]],
    * maxDirs = 2): three year appends trip the policy (3 > 2 dirs →
    * compact to 1), a fourth call right after is a NO-OP — the
    * idempotence a scheduled OPTIMIZE job needs. The census pins both
    * decisions plus the row integrity across the rewrite.
    */
  def q420(s: SparkSession, dir: String): DataFrame = {
    val table = CoreQueries.fixDir(dir) + "/txlog_autocompact"
    rmTree(table)
    Seq(1996, 1997, 1998).foreach(yr =>
      graft.io.TxLog.commit(s, table, yearSlice(s, dir, yr)))
    val (b1, a1, did1) = graft.io.TxLog.compactIfNeeded(s, table, maxDirs = 2)
    val (b2, a2, did2) = graft.io.TxLog.compactIfNeeded(s, table, maxDirs = 2)
    graft.io.TxLog.read(s, table)
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
      .select(lit(b1.toLong).as("dirs_before"),
        lit(a1.toLong).as("dirs_after"),
        lit(did1).as("compacted"),
        lit(b2.toLong).as("noop_dirs"),
        lit(did2).as("noop_compacted"),
        col("n_rows"), col("total_cents"))
  }
  val q420Sql: String =
    s"""SELECT CAST(3 AS BIGINT) AS dirs_before,
       |  CAST(1 AS BIGINT) AS dirs_after,
       |  CAST(1 AS BOOLEAN) AS compacted,
       |  CAST(1 AS BIGINT) AS noop_dirs,
       |  CAST(0 AS BOOLEAN) AS noop_compacted,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum($centsSql) AS BIGINT) AS total_cents
       |FROM lineitem WHERE year(l_shipdate) IN (1996, 1997, 1998)""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q419_txlog_range", q419, q419Sql),
    Query("q420_txlog_autocompact", q420, q420Sql))
}
