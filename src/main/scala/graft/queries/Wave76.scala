package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 "wave 76" query set (q423–q424): table-log schema evolution
  * (commits may add nullable columns; the merged snapshot presents the
  * union schema, time travel preserves the old one) and the commit
  * history audit (DESCRIBE HISTORY from the O(versions) log alone —
  * append vs rewrite classification without touching data).
  */
object Wave76Queries {
  import CoreQueries.{T, centsSql, rmTree, yearSlice}

  // ---------------------------------------------------------------- q423
  /** Schema evolution across commits: v1 ships (l_orderkey, yr, cents),
    * v2 ADDS a quantity column. The merged snapshot reads both commits
    * under the union schema (nulls where v1 predates the column); time
    * travel to v1 still shows exactly 3 columns. The census pins both
    * schemas and the null accounting.
    */
  def q423(s: SparkSession, dir: String): DataFrame = {
    val table = CoreQueries.fixDir(dir) + "/txlog_evolve"
    rmTree(table)
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1996))
    graft.io.TxLog.commit(s, table,
      yearSlice(s, dir, 1997).join(
        T(s, dir, "lineitem")
          .filter(year(col("l_shipdate")) === 1997)
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity")).cast("long").as("qty")),
        "l_orderkey"))
    val v1Cols = graft.io.TxLog.read(s, table, Some(1)).columns.length.toLong
    val merged = graft.io.TxLog.readMerged(s, table)
    merged.agg(count(lit(1)).as("n_rows"),
        sum("cents").as("total_cents"),
        sum(when(col("qty").isNull, 1L).otherwise(0L)).as("n_pre_evolution"),
        sum(coalesce(col("qty"), lit(0L))).as("total_qty"))
      .select(lit(merged.columns.length.toLong).as("merged_cols"),
        lit(v1Cols).as("v1_cols"), col("n_rows"), col("total_cents"),
        col("n_pre_evolution"), col("total_qty"))
  }
  val q423Sql: String =
    s"""WITH q AS (SELECT l_orderkey,
       |    CAST(sum(l_quantity) AS BIGINT) AS qty
       |  FROM lineitem WHERE year(l_shipdate) = 1997 GROUP BY 1)
       |SELECT CAST(4 AS BIGINT) AS merged_cols,
       |  CAST(3 AS BIGINT) AS v1_cols,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum($centsSql) AS BIGINT) AS total_cents,
       |  CAST(sum(CASE WHEN year(l_shipdate) = 1996 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_pre_evolution,
       |  CAST(sum(CASE WHEN year(l_shipdate) = 1997 THEN q.qty
       |    ELSE 0 END) AS BIGINT) AS total_qty
       |FROM lineitem LEFT JOIN q USING (l_orderkey)
       |WHERE year(l_shipdate) IN (1996, 1997)""".stripMargin

  // ---------------------------------------------------------------- q424
  /** Commit-history audit ([[graft.io.TxLog.history]]): two appends, a
    * MERGE (rewrite), another append, a compaction (rewrite) — the
    * history table classifies each from the log alone: appends are
    * supersets adding one directory, rewrites are not supersets.
    */
  def q424(s: SparkSession, dir: String): DataFrame = {
    val table = CoreQueries.fixDir(dir) + "/txlog_history"
    rmTree(table)
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1996))
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1997))
    graft.io.TxLog.merge(s, table,
      yearSlice(s, dir, 1996).limit(0), Seq("l_orderkey", "yr", "cents"))
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1998))
    graft.io.TxLog.compact(s, table)
    graft.io.TxLog.history(s, table)
      .select(col("version").cast("long").as("version"),
        col("n_dirs").cast("long").as("n_dirs"),
        col("dirs_added").cast("long").as("dirs_added"),
        col("is_rewrite"))
      .orderBy("version")
  }
  val q424Sql: String =
    """SELECT * FROM (VALUES
      |  (1::BIGINT, 1::BIGINT, 1::BIGINT, CAST(0 AS BOOLEAN)),
      |  (2, 2, 1, CAST(0 AS BOOLEAN)),
      |  (3, 1, 1, CAST(1 AS BOOLEAN)),
      |  (4, 2, 1, CAST(0 AS BOOLEAN)),
      |  (5, 1, 1, CAST(1 AS BOOLEAN)))
      |  AS t(version, n_dirs, dirs_added, is_rewrite)
      |ORDER BY version""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q423_txlog_evolution", q423, q423Sql),
    Query("q424_txlog_history", q424, q424Sql))
}
