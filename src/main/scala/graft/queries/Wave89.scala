package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 "wave 89" query set (q454–q456): the table-log maintenance
  * surface a production lake needs around the commit protocol —
  *
  *  - q454 write-audit-publish ([[graft.io.TxLog.branchCreate]] /
  *    `branchAppend` / `publish`): stage rows on a branch, gate them
  *    with [[graft.io.TableChecks.audit]], fast-forward main by
  *    reference only when the audit is clean. The failing branch never
  *    touches main.
  *  - q455 orphan reclamation ([[graft.io.TxLog.findOrphans]]): died
  *    writers and deleted branches leave directories NO snapshot
  *    references — invisible to readers, unreachable by version-based
  *    vacuum. The detector reasons from all logs (main + branches) so
  *    active staging data is never swept.
  *  - q456 tags ([[graft.io.TxLog.tagCreate]]): named versions exempt
  *    from the vacuum horizon — release pins that survive compaction +
  *    vacuum while untagged intermediates are reclaimed.
  *
  * All three are O(metadata) operations: publish/tag move zero bytes;
  * orphan scan is one directory listing joined against the log — at
  * 100 TB none of them reads data files at all.
  */
object Wave89Queries {
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

  // ---------------------------------------------------------------- q454
  /** WAP end-to-end: main starts at the 1996 slice; a "good" branch
    * stages 1997, passes the not-null + non-negative audit, publishes
    * (main v2 references the branch's directory — no rewrite); a "bad"
    * branch stages 1997 with nulls planted in every orderkey%10==0 row,
    * fails the audit with exactly that count, and is deleted without
    * main ever seeing a row of it. The census pins main's final
    * contents, the audit counts, and that no branch survives.
    */
  def q454(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = CoreQueries.fixDir(dir) + "/txlog_wap"
    rmTree(table)
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1996),
      targetFiles = 2)
    // good branch: stage 1997, audit, publish
    graft.io.TxLog.branchCreate(table, "wap")
    graft.io.TxLog.branchAppend(s, table, "wap", yearSlice(s, dir, 1997),
      targetFiles = 2)
    val goodAudit = graft.io.TableChecks.audit(
      graft.io.TxLog.branchRead(s, table, "wap"),
      notNull = Seq("cents"),
      checks = Seq(("cents_nonneg", "cents >= 0")), uniqueKey = None)
    val goodViolations = goodAudit.agg(sum("violations")).head().getLong(0)
    graft.io.TxLog.publish(table, "wap")
    graft.io.TxLog.branchDelete(table, "wap")
    // bad branch: nulls planted; audit counts them; never published
    val poisoned = yearSlice(s, dir, 1997)
      .withColumn("cents",
        when(col("l_orderkey") % 10 === 0, lit(null)).otherwise(col("cents")))
    graft.io.TxLog.branchCreate(table, "bad")
    graft.io.TxLog.branchAppend(s, table, "bad", poisoned, targetFiles = 2)
    val badAudit = graft.io.TableChecks.audit(
      graft.io.TxLog.branchRead(s, table, "bad"),
      notNull = Seq("cents"), checks = Seq.empty, uniqueKey = None)
    val badViolations = badAudit.filter(col("constraint_name") === "not_null_cents")
      .head().getLong(1)
    graft.io.TxLog.branchDelete(table, "bad")
    val main = graft.io.TxLog.read(s, table)
      .agg(count(lit(1)), sum("cents")).head()
    Seq((graft.io.TxLog.versions(table).size.toLong, main.getLong(0),
        main.getLong(1), goodViolations, badViolations,
        graft.io.TxLog.branches(table).size.toLong))
      .toDF("n_versions", "rows_main", "cents_main", "good_violations",
        "bad_violations", "branches_left")
  }
  val q454Sql: String =
    s"""WITH y AS (SELECT l_orderkey,
       |    CAST(year(l_shipdate) AS BIGINT) AS yr, $centsSql AS cents
       |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997))
       |SELECT CAST(2 AS BIGINT) AS n_versions,
       |  CAST(count(*) AS BIGINT) AS rows_main,
       |  CAST(sum(cents) AS BIGINT) AS cents_main,
       |  CAST(0 AS BIGINT) AS good_violations,
       |  CAST(sum(CASE WHEN yr = 1997 AND l_orderkey % 10 = 0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS bad_violations,
       |  CAST(0 AS BIGINT) AS branches_left
       |FROM y""".stripMargin

  // ---------------------------------------------------------------- q455
  /** Orphan reclamation: a zombie writer lands `data/zombie` with no
    * log entry; a deleted branch leaves its staged append behind; a
    * LIVE branch stages the same slice and must be protected. The scan
    * finds exactly the two unreachable directories, the sweep removes
    * them, and both the main snapshot and the live branch read
    * identically before and after.
    */
  def q455(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = CoreQueries.fixDir(dir) + "/txlog_orphans"
    rmTree(table)
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1996),
      targetFiles = 2)
    graft.io.TxLog.append(s, table, yearSlice(s, dir, 1997),
      targetFiles = 2)
    // zombie writer: data landed, entry never committed
    yearSlice(s, dir, 1998).repartition(1)
      .write.mode("errorifexists").parquet(s"$table/data/zombie")
    // deleted branch: staged append becomes unreachable
    graft.io.TxLog.branchCreate(table, "doomed")
    graft.io.TxLog.branchAppend(s, table, "doomed",
      yearSlice(s, dir, 1998), targetFiles = 1)
    graft.io.TxLog.branchDelete(table, "doomed")
    // live branch: staged append must survive the sweep
    graft.io.TxLog.branchCreate(table, "live")
    graft.io.TxLog.branchAppend(s, table, "live",
      yearSlice(s, dir, 1998), targetFiles = 1)
    val nOrphans = graft.io.TxLog.findOrphans(table).size.toLong
    val removed = graft.io.TxLog.vacuumOrphans(table).toLong
    val nAfter = graft.io.TxLog.findOrphans(table).size.toLong
    val main = graft.io.TxLog.read(s, table)
      .agg(count(lit(1)), sum("cents")).head()
    val live = graft.io.TxLog.branchRead(s, table, "live")
      .agg(count(lit(1))).head().getLong(0)
    Seq((nOrphans, removed, nAfter, main.getLong(0), main.getLong(1), live))
      .toDF("n_orphans", "removed", "n_after", "rows_main", "cents_main",
        "rows_live_branch")
  }
  val q455Sql: String =
    s"""WITH y AS (SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
       |    $centsSql AS cents
       |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997, 1998))
       |SELECT CAST(2 AS BIGINT) AS n_orphans,
       |  CAST(2 AS BIGINT) AS removed,
       |  CAST(0 AS BIGINT) AS n_after,
       |  CAST(sum(CASE WHEN yr < 1998 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS rows_main,
       |  CAST(sum(CASE WHEN yr < 1998 THEN cents ELSE 0 END) AS BIGINT)
       |    AS cents_main,
       |  CAST(count(*) AS BIGINT) AS rows_live_branch
       |FROM y""".stripMargin

  // ---------------------------------------------------------------- q456
  /** Tag-pinned retention: v1 (1996) is tagged `baseline`; 1997 is
    * appended, then compacted into a single directory; vacuum with a
    * 1-version horizon reclaims exactly the one directory only the
    * untagged v2 referenced, while the tagged v1 stays time-travelable
    * and the head reads the full compacted table.
    */
  def q456(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = CoreQueries.fixDir(dir) + "/txlog_tags"
    rmTree(table)
    graft.io.TxLog.commit(s, table, yearSlice(s, dir, 1996),
      targetFiles = 1)
    val tagV = graft.io.TxLog.tagCreate(table, "baseline").toLong
    graft.io.TxLog.append(s, table, yearSlice(s, dir, 1997),
      targetFiles = 1)
    graft.io.TxLog.compact(s, table, targetFiles = 2)
    val removed = graft.io.TxLog.vacuum(table, keepVersions = 1).toLong
    val tagRow = graft.io.TxLog.readTag(s, table, "baseline")
      .agg(count(lit(1)), sum("cents")).head()
    val head = graft.io.TxLog.read(s, table)
      .agg(count(lit(1)), sum("cents")).head()
    Seq((tagV, tagRow.getLong(0), tagRow.getLong(1), removed,
        head.getLong(0), head.getLong(1),
        graft.io.TxLog.versions(table).size.toLong,
        graft.io.TxLog.tags(table).size.toLong))
      .toDF("tag_version", "rows_tag", "cents_tag", "removed_dirs",
        "rows_head", "cents_head", "n_versions_after", "n_tags")
  }
  val q456Sql: String =
    s"""WITH y AS (SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
       |    $centsSql AS cents
       |  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997))
       |SELECT CAST(1 AS BIGINT) AS tag_version,
       |  CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS rows_tag,
       |  CAST(sum(CASE WHEN yr = 1996 THEN cents ELSE 0 END) AS BIGINT)
       |    AS cents_tag,
       |  CAST(1 AS BIGINT) AS removed_dirs,
       |  CAST(count(*) AS BIGINT) AS rows_head,
       |  CAST(sum(cents) AS BIGINT) AS cents_head,
       |  CAST(2 AS BIGINT) AS n_versions_after,
       |  CAST(1 AS BIGINT) AS n_tags
       |FROM y""".stripMargin

  // ------------------------------------------------------------ registry
  val queries: Seq[Query] = Seq(
    Query("q454_txlog_wap", q454, q454Sql),
    Query("q455_txlog_orphans", q455, q455Sql),
    Query("q456_txlog_tags", q456, q456Sql))
}
