package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 "wave 70" query set (q412–q413): the table log's other two
  * verbs — incremental change consumption (what a downstream pipeline
  * reads instead of re-scanning the table) and copy-on-write MERGE
  * (the upsert a CDC apply lands as a versioned commit). Together with
  * q411's append/time-travel/compaction census they make
  * [[graft.io.TxLog]] a complete minimal lake sink.
  */
object Wave70Queries {
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

  private def slice(s: SparkSession, dir: String, yr: Int): DataFrame =
    T(s, dir, "lineitem")
      .filter(year(col("l_shipdate")) === yr)
      .select(col("l_orderkey"), col("l_linenumber"),
        dayofmonth(col("l_shipdate")).as("dom"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100.0 + 0.5).cast("long").as("cents"))

  private val centsSql =
    "CAST(floor(l_extendedprice * (1.0e0 - l_discount) * 100.0e0 + 0.5e0) AS BIGINT)"

  // ---------------------------------------------------------------- q412
  /** Incremental change reads: three append commits (1996, 1997,
    * 1998), then the (v1, v3] and (v2, v3] change sets — row counts
    * and exact cent totals per range. The consumer reads ONLY the
    * appended directories, never the table.
    */
  def q412(s: SparkSession, dir: String): DataFrame = {
    val table = CoreQueries.fixDir(dir) + "/txlog_changes"
    rmTree(table)
    graft.io.TxLog.commit(s, table, slice(s, dir, 1996))
    graft.io.TxLog.commit(s, table, slice(s, dir, 1997))
    graft.io.TxLog.commit(s, table, slice(s, dir, 1998))
    def census(from: Int, to: Int): DataFrame =
      graft.io.TxLog.readChanges(s, table, from, to)
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
        .select(lit(from.toLong).as("from_v"), lit(to.toLong).as("to_v"),
          col("n_rows"), col("total_cents"))
    census(1, 3).unionByName(census(2, 3)).orderBy("from_v")
  }
  val q412Sql: String =
    s"""WITH y AS (SELECT year(l_shipdate) AS yr,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum($centsSql) AS BIGINT) AS c
       |  FROM lineitem WHERE year(l_shipdate) IN (1997, 1998)
       |  GROUP BY 1)
       |SELECT CAST(1 AS BIGINT) AS from_v, CAST(3 AS BIGINT) AS to_v,
       |  (SELECT sum(n) FROM y)::BIGINT AS n_rows,
       |  (SELECT sum(c) FROM y)::BIGINT AS total_cents
       |UNION ALL
       |SELECT 2, 3, (SELECT n FROM y WHERE yr = 1998),
       |  (SELECT c FROM y WHERE yr = 1998)
       |ORDER BY from_v""".stripMargin

  // ---------------------------------------------------------------- q413
  /** Copy-on-write MERGE: commit the 1996 slice, then upsert every row
    * shipped after the 15th with cents+1. The censused contract: the
    * row count is UNCHANGED (pure update, no inserts), the cent total
    * grows by exactly the updated-row count, and time travel still
    * reads the pre-merge snapshot.
    */
  def q413(s: SparkSession, dir: String): DataFrame = {
    val table = CoreQueries.fixDir(dir) + "/txlog_merge"
    rmTree(table)
    // the synthetic lineitem does NOT have a unique (orderkey,
    // linenumber) — aggregate to one row per key first, so the merge
    // key is unique by construction (a MERGE against duplicate target
    // keys is undefined in every table format)
    val base = slice(s, dir, 1996)
      .groupBy("l_orderkey", "l_linenumber")
      .agg(max("dom").as("dom"), sum("cents").as("cents"))
    graft.io.TxLog.commit(s, table, base)
    val updates = base.filter(col("dom") > 15)
      .withColumn("cents", col("cents") + 1L)
    graft.io.TxLog.merge(s, table, updates,
      Seq("l_orderkey", "l_linenumber"))
    def census(v: Int): DataFrame =
      graft.io.TxLog.read(s, table, Some(v))
        .agg(count(lit(1)).as("n_rows"), sum("cents").as("total_cents"))
        .select(lit(v.toLong).as("version"), col("n_rows"),
          col("total_cents"))
    census(1).unionByName(census(2)).orderBy("version")
  }
  val q413Sql: String =
    s"""WITH b AS (SELECT max(dayofmonth(l_shipdate)) AS dom,
       |    CAST(sum($centsSql) AS BIGINT) AS cents
       |  FROM lineitem WHERE year(l_shipdate) = 1996
       |  GROUP BY l_orderkey, l_linenumber)
       |SELECT CAST(1 AS BIGINT) AS version,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(cents) AS BIGINT) AS total_cents
       |FROM b
       |UNION ALL
       |SELECT 2, CAST(count(*) AS BIGINT),
       |  CAST(sum(cents) + sum(CASE WHEN dom > 15 THEN 1 ELSE 0 END)
       |    AS BIGINT)
       |FROM b
       |ORDER BY version""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q412_txlog_changes", q412, q412Sql),
    Query("q413_txlog_merge", q413, q413Sql))
}
