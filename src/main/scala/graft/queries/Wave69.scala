package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 "wave 69" query set (q411): the versioned copy-on-write
  * table log ([[graft.io.TxLog]]) — append commits, snapshot time
  * travel, and small-file compaction, proven in one census: per
  * version the row count, the DISTINCT data-file count (layout), and
  * the exact cent total (content). Version 1 is the 1996 slice,
  * version 2 appends 1997, version 3 compacts — so v3 must keep v2's
  * rows and cents while collapsing its file count, and v1 must stay
  * readable (time travel) after both.
  */
object Wave69Queries {
  import CoreQueries.{T, rmTree}

  // ---------------------------------------------------------------- q411
  def q411(s: SparkSession, dir: String): DataFrame = {
    val table = CoreQueries.fixDir(dir) + "/txlog_demo"
    // rebuild from scratch every run — the query is the table's whole
    // deterministic lifecycle, so stale state must never leak in
    rmTree(table)
    def slice(year: Int): DataFrame = T(s, dir, "lineitem")
      .filter(org.apache.spark.sql.functions.year(col("l_shipdate")) === year)
      .select(col("l_orderkey"), col("l_linenumber"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100.0 + 0.5).cast("long").as("cents"))
    graft.io.TxLog.commit(s, table, slice(1996))
    graft.io.TxLog.commit(s, table, slice(1997))
    graft.io.TxLog.compact(s, table)
    def census(v: Int): DataFrame =
      graft.io.TxLog.read(s, table, Some(v))
        // input_file_name() is non-deterministic to Catalyst — project
        // it to a plain column first, then count distinct
        .select(col("cents"), input_file_name().as("__f"))
        .groupBy("__f").agg(count(lit(1)).as("nr"), sum("cents").as("sc"))
        .agg(sum("nr").as("n_rows"), count(lit(1)).as("n_files"),
          sum("sc").as("total_cents"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("n_files"),
          col("total_cents"))
    census(1).unionByName(census(2)).unionByName(census(3))
      .orderBy("version")
  }
  val q411Sql: String =
    """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(floor(l_extendedprice * (1.0e0 - l_discount)
      |      * 100.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS c
      |  FROM lineitem WHERE year(l_shipdate) = 1996),
      |b AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(floor(l_extendedprice * (1.0e0 - l_discount)
      |      * 100.0e0 + 0.5e0) AS BIGINT)) AS BIGINT) AS c
      |  FROM lineitem WHERE year(l_shipdate) = 1997)
      |SELECT CAST(1 AS BIGINT) AS version, a.n AS n_rows,
      |  CAST(4 AS BIGINT) AS n_files, a.c AS total_cents FROM a
      |UNION ALL
      |SELECT 2, a.n + b.n, 8, a.c + b.c FROM a, b
      |UNION ALL
      |SELECT 3, a.n + b.n, 4, a.c + b.c FROM a, b
      |ORDER BY version""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q411_txlog_snapshot", q411, q411Sql))
}
