package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 "wave 83" query set (q437–q439): the table log's
  * concurrency and merge-on-read consistency semantics, oracle-checked.
  *
  *  - q437: retry-rebase APPEND ([[graft.io.TxLog.append]]) — an
  *    append's data directory is writer-unique and its log entry
  *    rebases onto whatever head it finds, so appends land after any
  *    interleaved commit without rework; history classifies every
  *    step from the log alone (now including delete-vector growth).
  *  - q438: pruned reads under standing delete vectors — zone/Bloom
  *    commit skipping composes with merge-on-read deletes (the pruned
  *    readers apply the vectors like readResolved; a deleted key stays
  *    deleted even when its commit is the only one scanned).
  *  - q439: zone-carried partial overwrite with NULL zone values —
  *    rows whose zone column is NULL are OUTSIDE every [lo, hi] range
  *    and survive the rewrite of touched directories.
  */
object Wave83Queries {
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

  private val centsSql =
    "CAST(floor(l_extendedprice * (1.0e0 - l_discount) * 100.0e0 + 0.5e0) AS BIGINT)"

  // ---------------------------------------------------------------- q437
  /** Retry-rebase append census: v1 = plain commit (1996), then two
    * [[graft.io.TxLog.append]]s (1997, 1998) with a deleteWhere
    * interleaved between them — the second append lands on the head
    * the delete created (v4), rebasing instead of failing. The census
    * proves: versions dense 1..4, the resolved snapshot carries both
    * appends minus the deleted keys, and history flags exactly the
    * delete version via dels_added (dirs_added 0, not a rewrite).
    */
  def q437(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = CoreQueries.fixDir(dir) + "/txlog_rebase"
    rmTree(table)
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1996))
    val vA = graft.io.TxLog.append(s, table, yearSlice(s, dir, 1997))
    graft.io.TxLog.deleteWhere(s, table, "yr = 1996 AND cents % 2 = 0",
      keys = Seq("l_orderkey", "yr", "cents"))
    val vB = graft.io.TxLog.append(s, table, yearSlice(s, dir, 1998))
    val h = graft.io.TxLog.history(s, table).orderBy("version").collect()
    val delVersions = h.filter(_.getInt(4) > 0).map(_.getInt(0)).toSeq
    val rewrites = h.count(_.getBoolean(3))
    val snap = graft.io.TxLog.readResolved(s, table)
      .agg(count(lit(1)), sum("cents")).head()
    Seq((vA.toLong, vB.toLong, h.length.toLong,
        delVersions.mkString(","), rewrites.toLong,
        snap.getLong(0), snap.getLong(1)))
      .toDF("v_append_1", "v_append_2", "n_versions", "del_versions",
        "n_rewrites", "n_rows", "total_cents")
  }
  val q437Sql: String =
    s"""WITH base AS (SELECT l_orderkey,
       |    CAST(year(l_shipdate) AS BIGINT) AS yr, $centsSql AS cents
       |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997, 1998)),
       |kept AS (SELECT * FROM base
       |  WHERE NOT (yr = 1996 AND cents % 2 = 0))
       |SELECT CAST(2 AS BIGINT) AS v_append_1,
       |  CAST(4 AS BIGINT) AS v_append_2,
       |  CAST(4 AS BIGINT) AS n_versions,
       |  '3' AS del_versions,
       |  CAST(0 AS BIGINT) AS n_rewrites,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(cents) AS BIGINT) AS total_cents
       |FROM kept""".stripMargin

  // ---------------------------------------------------------------- q438
  /** Pruned point/range reads under standing delete vectors: three
    * zone-mapped commits by year band, a deleteWhere on keys inside
    * the middle band, then a zone-pruned range read of that band. The
    * census pins the pruning (1 of 3 directories scanned) AND the
    * consistency (the pruned frame equals the resolved snapshot
    * filtered to the band — deleted keys absent).
    */
  def q438(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = CoreQueries.fixDir(dir) + "/txlog_pruned_del"
    rmTree(table)
    for (yr <- Seq(1996, 1997, 1998))
      graft.io.TxLog.commitWithZone(s, table, yearSlice(s, dir, yr),
        zoneCol = "yr", targetFiles = 1)
    graft.io.TxLog.deleteWhere(s, table, "yr = 1997 AND cents % 3 = 0",
      keys = Seq("l_orderkey", "yr", "cents"))
    val (pruned, scanned, total) =
      graft.io.TxLog.readPrunedRange(s, table, "yr", 1997L, 1997L)
    val resolved = graft.io.TxLog.readResolved(s, table)
      .filter(col("yr") === 1997L)
    val diff = pruned.unionByName(resolved).groupBy("l_orderkey", "yr",
        "cents").agg(count(lit(1)).as("c")).filter(col("c") % 2 =!= 0)
      .count()
    val agg = pruned.agg(count(lit(1)), sum("cents")).head()
    Seq((scanned.toLong, total.toLong, agg.getLong(0), agg.getLong(1),
        diff))
      .toDF("dirs_scanned", "dirs_total", "n_rows", "total_cents",
        "mismatch_rows")
  }
  val q438Sql: String =
    s"""WITH band AS (SELECT l_orderkey,
       |    CAST(year(l_shipdate) AS BIGINT) AS yr, $centsSql AS cents
       |  FROM lineitem WHERE year(l_shipdate) = 1997),
       |kept AS (SELECT * FROM band WHERE cents % 3 <> 0)
       |SELECT CAST(1 AS BIGINT) AS dirs_scanned,
       |  CAST(3 AS BIGINT) AS dirs_total,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(cents) AS BIGINT) AS total_cents,
       |  CAST(0 AS BIGINT) AS mismatch_rows
       |FROM kept""".stripMargin

  // ---------------------------------------------------------------- q439
  /** replaceRange with NULL zone values: one plain commit whose rows
    * include NULL-cents (zone) rows, then a replaceRange over a cents
    * band. NULL-zone rows are outside every range — they must be
    * carried through the rewrite, in-band rows replaced by the
    * restatement, out-of-band rows kept.
    */
  def q439(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = CoreQueries.fixDir(dir) + "/txlog_null_zone"
    rmTree(table)
    val base = yearSlice(s, dir, 1997)
      .withColumn("cents",
        when(col("l_orderkey") % 7 === 0, lit(null: java.lang.Long))
          .otherwise(col("cents")))
    graft.io.TxLog.commit(s, table, base, targetFiles = 1)
    // the restatement carries only the non-null-keyed rows (the NULL
    // rows are not addressable by a zone range — they stay carried)
    val restate = yearSlice(s, dir, 1997)
      .filter(col("l_orderkey") % 7 =!= 0 &&
        col("cents").between(100000L, 200000L))
      .withColumn("cents", col("cents") + 1000000L)
    val (v, carried, rewritten) = graft.io.TxLog.replaceRange(s, table,
      restate, zoneCol = "cents", lo = 100000L, hi = 200000L,
      targetFiles = 1)
    graft.io.TxLog.read(s, table)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("cents").isNull, 1L).otherwise(0L)).as("n_null_zone"),
        sum(when(col("cents") > 1000000L, 1L).otherwise(0L))
          .as("n_restated"),
        sum("cents").as("total_cents"))
      .select(lit(v.toLong).as("version"),
        lit(carried.toLong).as("dirs_carried"),
        lit(rewritten.toLong).as("dirs_rewritten"),
        col("n_rows"), col("n_null_zone"), col("n_restated"),
        col("total_cents"))
  }
  val q439Sql: String =
    s"""WITH base AS (SELECT l_orderkey,
       |    CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE $centsSql END
       |      AS cents
       |  FROM lineitem WHERE year(l_shipdate) = 1997),
       |survivors AS (SELECT cents FROM base
       |  WHERE cents IS NULL OR cents < 100000 OR cents > 200000),
       |restated AS (SELECT $centsSql + 1000000 AS cents
       |  FROM lineitem WHERE year(l_shipdate) = 1997
       |    AND l_orderkey % 7 <> 0
       |    AND $centsSql BETWEEN 100000 AND 200000),
       |final AS (SELECT cents FROM survivors
       |  UNION ALL SELECT cents FROM restated)
       |SELECT CAST(2 AS BIGINT) AS version,
       |  CAST(0 AS BIGINT) AS dirs_carried,
       |  CAST(1 AS BIGINT) AS dirs_rewritten,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_null_zone,
       |  CAST(sum(CASE WHEN cents > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_restated,
       |  CAST(sum(cents) AS BIGINT) AS total_cents
       |FROM final""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q437_txlog_rebase", q437, q437Sql),
    Query("q438_txlog_pruned_del", q438, q438Sql),
    Query("q439_txlog_null_zone", q439, q439Sql))
}
