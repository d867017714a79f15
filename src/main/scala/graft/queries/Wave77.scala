package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 "wave 77" query set (q425–q426): merge-on-read equality
  * deletes (Iceberg-style delete vectors — a DELETE costs O(deleted
  * keys) bytes, never an O(table) rewrite; compaction pays the debt)
  * and zone-map-driven partial range overwrite (a one-day restate
  * rewrites the overlapping commits only; disjoint data is carried by
  * reference, zero bytes copied).
  */
object Wave77Queries {
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

  // ---------------------------------------------------------------- q425
  /** Equality-delete vectors ([[graft.io.TxLog.deleteWhere]]): two
    * appends, then two merge-on-read deletes — no data rewrite; the
    * physical read still shows every committed row while the resolved
    * read anti-joins the vectors out. A compaction folds the vectors in
    * (dels drop to 0) without changing the logical row set. Both delete
    * predicates are functions of the key columns, so the resolved set
    * equals a plain SQL filter — which is exactly what the oracle pins.
    */
  def q425(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = CoreQueries.fixDir(dir) + "/txlog_delete"
    rmTree(table)
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1996))
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1997))
    graft.io.TxLog.deleteWhere(s, table, "cents < 100000",
      Seq("l_orderkey", "yr", "cents"))
    graft.io.TxLog.deleteWhere(s, table, "yr = 1996 AND l_orderkey % 10 = 3",
      Seq("l_orderkey", "yr", "cents"))
    val phys = graft.io.TxLog.read(s, table).count()
    val delsBefore = graft.io.TxLog.deleteVectorCount(table).toLong
    val r = graft.io.TxLog.readResolved(s, table)
      .agg(count(lit(1)), sum("cents")).head()
    graft.io.TxLog.compact(s, table)
    val delsAfter = graft.io.TxLog.deleteVectorCount(table).toLong
    val physAfter = graft.io.TxLog.read(s, table).count()
    Seq((phys, r.getLong(0), r.getLong(1), delsBefore, delsAfter, physAfter))
      .toDF("phys_rows", "resolved_rows", "total_cents", "del_dirs",
        "del_dirs_after_compact", "phys_rows_after_compact")
  }
  val q425Sql: String =
    s"""WITH base AS (SELECT l_orderkey,
       |    CAST(year(l_shipdate) AS BIGINT) AS yr, $centsSql AS cents
       |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)),
       |kept AS (SELECT * FROM base
       |  WHERE cents >= 100000 AND NOT (yr = 1996 AND l_orderkey % 10 = 3))
       |SELECT (SELECT CAST(count(*) AS BIGINT) FROM base) AS phys_rows,
       |  CAST(count(*) AS BIGINT) AS resolved_rows,
       |  CAST(sum(cents) AS BIGINT) AS total_cents,
       |  CAST(2 AS BIGINT) AS del_dirs,
       |  CAST(0 AS BIGINT) AS del_dirs_after_compact,
       |  CAST(count(*) AS BIGINT) AS phys_rows_after_compact
       |FROM kept""".stripMargin

  // ---------------------------------------------------------------- q426
  /** Zone-carried partial overwrite ([[graft.io.TxLog.replaceRange]]):
    * commit A spans shipyears 1996–1997 (zone envelope [1996, 1997]),
    * commit B is 1998 ([1998, 1998]). Restating 1997 carries B verbatim
    * (disjoint envelope — zero bytes rewritten), filters-and-rewrites A
    * down to its 1996 rows, and appends the restated 1997 slice (cents
    * bumped +7 per row so the restate is value-visible). Time travel to
    * v2 still shows the pre-restate totals, and a zone-pruned read of
    * 1996 scans exactly 1 of the 3 directories.
    */
  def q426(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = CoreQueries.fixDir(dir) + "/txlog_replace"
    rmTree(table)
    graft.io.TxLog.commitWithZone(s, table,
      yearSlice(s, dir, 1996).unionByName(yearSlice(s, dir, 1997)), "yr")
    graft.io.TxLog.commitWithZone(s, table, yearSlice(s, dir, 1998), "yr")
    val (v, carried, rewritten) = graft.io.TxLog.replaceRange(s, table,
      yearSlice(s, dir, 1997).withColumn("cents", col("cents") + 7L),
      "yr", 1997, 1997)
    val r = graft.io.TxLog.read(s, table)
      .agg(count(lit(1)), sum("cents")).head()
    val v2Total = graft.io.TxLog.read(s, table, Some(2))
      .agg(sum("cents")).head().getLong(0)
    val (_, scan96, total96) =
      graft.io.TxLog.readPrunedRange(s, table, "yr", 1996, 1996)
    Seq((v.toLong, carried.toLong, rewritten.toLong, r.getLong(0),
        r.getLong(1), v2Total, scan96.toLong, total96.toLong))
      .toDF("version", "dirs_carried", "dirs_rewritten", "n_rows",
        "total_cents", "total_cents_v2", "scan96_dirs", "dirs_total")
  }
  val q426Sql: String =
    s"""WITH base AS (SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
       |    $centsSql AS cents
       |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997, 1998))
       |SELECT CAST(3 AS BIGINT) AS version,
       |  CAST(1 AS BIGINT) AS dirs_carried,
       |  CAST(1 AS BIGINT) AS dirs_rewritten,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(cents) + 7 * sum(CASE WHEN yr = 1997 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS total_cents,
       |  CAST(sum(cents) AS BIGINT) AS total_cents_v2,
       |  CAST(1 AS BIGINT) AS scan96_dirs,
       |  CAST(3 AS BIGINT) AS dirs_total
       |FROM base""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q425_txlog_delete", q425, q425Sql),
    Query("q426_txlog_replace", q426, q426Sql))
}
