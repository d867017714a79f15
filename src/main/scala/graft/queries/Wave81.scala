package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 "wave 81" query set (q434–q435): incremental materialized-
  * view maintenance off the table log's change feed (delta-fold per
  * append version, provably equal to the full recompute; a MERGE
  * rewrite is detected from the O(versions) history and triggers a
  * resync — the documented consumer contract), and row-level version
  * DIFF as a CDC frame (insert/delete rows between ANY two versions,
  * including across rewrites where the append-only change feed does
  * not apply).
  */
object Wave81Queries {
  import CoreQueries.{T, centsSql, rmTree, yearSlice}

  // ---------------------------------------------------------------- q434
  /** Incremental MV maintenance: the per-year (count, cents) aggregate
    * is seeded from v1 and folded forward with readChanges(1,2) and
    * readChanges(2,3) — each refresh touches ONLY the appended
    * directories, never the accumulated table (the O(delta) refresh
    * that makes a 100 TB MV affordable). The census proves the
    * incremental state equals the full v3 recompute, then a MERGE
    * rewrite lands as v4: history's is_rewrite flags it from the log
    * alone, and the consumer resyncs from the v4 snapshot.
    */
  def q434(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = CoreQueries.fixDir(dir) + "/txlog_mv"
    rmTree(table)
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1996))
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1997))
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1998))
    def mvOf(df: DataFrame): DataFrame =
      df.groupBy("yr").agg(count(lit(1)).as("n"), sum("cents").as("c"))
    val inc = mvOf(graft.io.TxLog.read(s, table, Some(1)))
      .unionByName(mvOf(graft.io.TxLog.readChanges(s, table, 1, 2)))
      .unionByName(mvOf(graft.io.TxLog.readChanges(s, table, 2, 3)))
      .groupBy("yr").agg(sum("n").as("n"), sum("c").as("c"))
    val full = mvOf(graft.io.TxLog.read(s, table, Some(3)))
    val matches =
      inc.join(full, Seq("yr", "n", "c"), "full_outer").count() ==
        inc.count()
    val incTot = inc.agg(count(lit(1)), sum("c")).head()
    graft.io.TxLog.merge(s, table,
      yearSlice(s, dir, 1997).withColumn("cents", col("cents") + 7L),
      Seq("l_orderkey", "yr"))
    val rewriteDetected = graft.io.TxLog.history(s, table)
      .orderBy(col("version").desc).head().getBoolean(3)
    val resync = mvOf(graft.io.TxLog.read(s, table))
      .agg(sum("c")).head().getLong(0)
    Seq((incTot.getLong(0), incTot.getLong(1), matches, rewriteDetected,
        resync))
      .toDF("n_keys", "inc_cents", "inc_matches_full", "rewrite_detected",
        "resync_cents")
  }
  val q434Sql: String =
    s"""WITH base AS (SELECT l_orderkey,
       |    CAST(year(l_shipdate) AS BIGINT) AS yr, $centsSql AS cents
       |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997, 1998))
       |SELECT CAST(3 AS BIGINT) AS n_keys,
       |  CAST(sum(cents) AS BIGINT) AS inc_cents,
       |  CAST(1 AS BOOLEAN) AS inc_matches_full,
       |  CAST(1 AS BOOLEAN) AS rewrite_detected,
       |  CAST(sum(cents) + 7 * sum(CASE WHEN yr = 1997 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS resync_cents
       |FROM base""".stripMargin

  // ---------------------------------------------------------------- q435
  /** Version DIFF as CDC ([[graft.io.TxLog.diff]]): v1 = 1996+1997,
    * v2 appends 1998, v3 MERGE-rewrites 1997 with cents+7. diff(1,2) is
    * pure inserts; diff(2,3) — across the rewrite, where readChanges
    * cannot go — shows the 1997 restate as its delete+insert pairs.
    * Set semantics (the census distincts both sides, the oracle uses
    * EXCEPT): a restated row that collides with another existing row's
    * content is correctly NOT a change.
    */
  def q435(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = CoreQueries.fixDir(dir) + "/txlog_diff"
    rmTree(table)
    graft.io.TxLog.commit(s, table,
      yearSlice(s, dir, 1996).unionByName(yearSlice(s, dir, 1997)))
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1998))
    graft.io.TxLog.merge(s, table,
      yearSlice(s, dir, 1997).withColumn("cents", col("cents") + 7L),
      Seq("l_orderkey", "yr"))
    def counts(fromV: Int, toV: Int): (Long, Long) = {
      val d = graft.io.TxLog.diff(s, table, fromV, toV).distinct()
      val r = d.groupBy("change").agg(count(lit(1)).as("n"))
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      (r.getOrElse("insert", 0L), r.getOrElse("delete", 0L))
    }
    val (i12, d12) = counts(1, 2)
    val (i23, d23) = counts(2, 3)
    Seq((i12, d12, i23, d23)).toDF("ins_12", "del_12", "ins_23", "del_23")
  }
  val q435Sql: String =
    s"""WITH base AS (SELECT l_orderkey,
       |    CAST(year(l_shipdate) AS BIGINT) AS yr, $centsSql AS cents
       |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997, 1998)),
       |v1 AS (SELECT DISTINCT * FROM base WHERE yr <= 1997),
       |v2 AS (SELECT DISTINCT * FROM base),
       |v3 AS (SELECT DISTINCT l_orderkey, yr,
       |    cents + CASE WHEN yr = 1997 THEN 7 ELSE 0 END AS cents
       |  FROM base)
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT * FROM v2 EXCEPT
       |    SELECT * FROM v1)) AS ins_12,
       |  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT * FROM v1 EXCEPT
       |    SELECT * FROM v2)) AS del_12,
       |  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT * FROM v3 EXCEPT
       |    SELECT * FROM v2)) AS ins_23,
       |  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT * FROM v2 EXCEPT
       |    SELECT * FROM v3)) AS del_23""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q434_txlog_mv", q434, q434Sql),
    Query("q435_txlog_diff", q435, q435Sql))
}
