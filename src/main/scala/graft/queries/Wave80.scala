package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-8 "wave 80" query set (q431–q433): the layout advisor (which
  * column should the table cluster on — exact integer envelope ratios
  * per candidate), zero-copy SHALLOW CLONE of a table-log table
  * (absolute-ref entry; clone diverges independently, source
  * untouched), and ANALYZE (exact per-column ndv/nulls/min/max in one
  * pass, persisted as an O(columns) version-tied sidecar and served
  * back without touching data).
  */
object Wave80Queries {
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

  // ---------------------------------------------------------------- q431
  /** Layout advisor ([[graft.io.LayoutAdvisor.advise]]): under a
    * year-sliced layout, the ship-month index is tightly bounded per
    * slice (width 12 each) while `l_orderkey % 997` straddles the full
    * range in every slice — the advisor ranks them by the exact
    * expected-scan-fraction numerators, and the census pins the
    * integer envelope sums both ways.
    */
  def q431(s: SparkSession, dir: String): DataFrame = {
    val df = T(s, dir, "lineitem").select(
      year(col("l_shipdate")).as("yrs"),
      (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
        .cast("long").as("mi"),
      (col("l_orderkey") % 997).as("z"))
    graft.io.LayoutAdvisor.advise(df, col("yrs"), Seq("mi", "z"))
  }
  val q431Sql: String =
    """WITH per AS (SELECT year(l_shipdate) AS sl,
      |    min(year(l_shipdate) * 12 + month(l_shipdate)) AS min_mi,
      |    max(year(l_shipdate) * 12 + month(l_shipdate)) AS max_mi,
      |    min(l_orderkey % 997) AS min_z,
      |    max(l_orderkey % 997) AS max_z
      |  FROM lineitem GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 'mi' AS cand,
      |    CAST(sum(max_mi - min_mi + 1) AS BIGINT) AS sum_widths,
      |    CAST(max(max_mi) - min(min_mi) + 1 AS BIGINT) AS global_width,
      |    CAST(count(*) AS BIGINT) AS n_slices FROM per
      |  UNION ALL
      |  SELECT 'z' AS cand,
      |    CAST(sum(max_z - min_z + 1) AS BIGINT),
      |    CAST(max(max_z) - min(min_z) + 1 AS BIGINT),
      |    CAST(count(*) AS BIGINT) FROM per)
      |ORDER BY CAST(sum_widths AS DOUBLE) / global_width, cand""".stripMargin

  // ---------------------------------------------------------------- q432
  /** SHALLOW CLONE ([[graft.io.TxLog.cloneTable]]): clone a two-commit
    * source with ZERO data bytes copied (the census pins 0 local data
    * directories at clone time), then diverge the clone — append 1998,
    * merge-on-read delete — and prove the source snapshot is untouched
    * while the clone resolves to its own logical set.
    */
  def q432(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fix = CoreQueries.fixDir(dir)
    val src = fix + "/txlog_clone_src"
    val dst = fix + "/txlog_clone_dst"
    rmTree(src); rmTree(dst)
    graft.io.TxLog.commit(s, src, yearSlice(s, dir, 1996))
    graft.io.TxLog.commit(s, src, yearSlice(s, dir, 1997))
    val cloneV = graft.io.TxLog.cloneTable(src, dst).toLong
    val localDirsAtClone = {
      val d = java.nio.file.Paths.get(dst, "data")
      if (!java.nio.file.Files.exists(d)) 0L
      else java.nio.file.Files.list(d).count()
    }
    graft.io.TxLog.commit(s, dst, yearSlice(s, dir, 1998))
    graft.io.TxLog.deleteWhere(s, dst, "yr = 1996 AND l_orderkey % 10 = 3",
      Seq("l_orderkey", "yr", "cents"))
    val sr = graft.io.TxLog.read(s, src)
      .agg(count(lit(1)), sum("cents")).head()
    val dr = graft.io.TxLog.readResolved(s, dst)
      .agg(count(lit(1)), sum("cents")).head()
    Seq((cloneV, localDirsAtClone, sr.getLong(0), sr.getLong(1),
        dr.getLong(0), dr.getLong(1)))
      .toDF("clone_version", "local_dirs_at_clone", "src_rows",
        "src_cents", "dst_rows", "dst_cents")
  }
  val q432Sql: String =
    s"""WITH base AS (SELECT l_orderkey,
       |    CAST(year(l_shipdate) AS BIGINT) AS yr, $centsSql AS cents
       |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997, 1998))
       |SELECT CAST(1 AS BIGINT) AS clone_version,
       |  CAST(0 AS BIGINT) AS local_dirs_at_clone,
       |  CAST(sum(CASE WHEN yr <= 1997 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS src_rows,
       |  CAST(sum(CASE WHEN yr <= 1997 THEN cents ELSE 0 END) AS BIGINT)
       |    AS src_cents,
       |  CAST(sum(CASE WHEN NOT (yr = 1996 AND l_orderkey % 10 = 3)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS dst_rows,
       |  CAST(sum(CASE WHEN NOT (yr = 1996 AND l_orderkey % 10 = 3)
       |    THEN cents ELSE 0 END) AS BIGINT) AS dst_cents
       |FROM base""".stripMargin

  // ---------------------------------------------------------------- q433
  /** ANALYZE ([[graft.io.TxLog.analyze]] / readStats): exact
    * ndv/nulls/min/max per column over the RESOLVED snapshot (a
    * standing delete vector excludes its rows from the stats), written
    * as a version-tied sidecar and served back with no data read — the
    * census reads through readStats, so it pins computation AND the
    * sidecar round-trip.
    */
  def q433(s: SparkSession, dir: String): DataFrame = {
    val table = CoreQueries.fixDir(dir) + "/txlog_analyze"
    rmTree(table)
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1996))
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1997))
    graft.io.TxLog.deleteWhere(s, table, "cents < 100000",
      Seq("l_orderkey", "yr", "cents"))
    graft.io.TxLog.analyze(s, table, Seq("l_orderkey", "yr", "cents"))
    graft.io.TxLog.readStats(s, table).orderBy("col_name")
  }
  val q433Sql: String =
    s"""WITH kept AS (SELECT l_orderkey,
       |    CAST(year(l_shipdate) AS BIGINT) AS yr, $centsSql AS cents
       |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
       |    AND $centsSql >= 100000)
       |SELECT * FROM (
       |  SELECT 'cents' AS col_name,
       |    CAST(count(DISTINCT cents) AS BIGINT) AS ndv,
       |    CAST(0 AS BIGINT) AS n_nulls,
       |    CAST(min(cents) AS BIGINT) AS min_v,
       |    CAST(max(cents) AS BIGINT) AS max_v FROM kept
       |  UNION ALL
       |  SELECT 'l_orderkey',
       |    CAST(count(DISTINCT l_orderkey) AS BIGINT), CAST(0 AS BIGINT),
       |    CAST(min(l_orderkey) AS BIGINT),
       |    CAST(max(l_orderkey) AS BIGINT) FROM kept
       |  UNION ALL
       |  SELECT 'yr', CAST(count(DISTINCT yr) AS BIGINT),
       |    CAST(0 AS BIGINT), CAST(min(yr) AS BIGINT),
       |    CAST(max(yr) AS BIGINT) FROM kept)
       |ORDER BY col_name""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q431_layout_advisor", q431, q431Sql),
    Query("q432_txlog_clone", q432, q432Sql),
    Query("q433_txlog_analyze", q433, q433Sql))
}
